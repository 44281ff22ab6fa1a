"""Incremental upsert / MERGE emulation (SURVEY.md §2.10 T1, §7 hard
point 4 — cross-run surrogate-key stability).

The reference reloads the whole NDJSON file in one transaction; ids are
whatever autoincrement hands out that run. For incremental loads the
engine needs MERGE semantics without a transactional table format, so:

    merge_upsert(existing, incoming, key):
        existing rows not in incoming  ∪  incoming   (UPSERT by key)

    (a Delta/Iceberg deployment swaps this for a real MERGE INTO —
    the emulation is the v1 parquet-only path, full-snapshot rewrite)

and ``normalize_incremental`` applies the batch dim-merge
(operators/dim_merge.py) against *existing* dimensions so previously
assigned ids never change and new values extend densely past max(id).

Scale: the upsert is one key-partitioned anti-join + union — shuffle
bounded by the smaller side when broadcastable; snapshot rewrite cost
is the parquet reality (bucketed output by key keeps the join
co-partitioned across runs).
"""

from __future__ import annotations

import logging
import re as _re
from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.normalize import normalize
from .dim_merge import merge_dimension

_log = logging.getLogger(__name__)


def merge_upsert(
    existing: DataFrame, incoming: DataFrame, key: str, allow_missing: bool = False
) -> DataFrame:
    """UPSERT by key: incoming wins on conflict, existing rows without a
    matching incoming key survive. ``allow_missing`` turns on schema
    evolution: the result carries the UNION of both sides' columns,
    with NULLs where a side lacks a column (the Delta
    ``mergeSchema``/autoMerge behavior)."""
    kept = existing.join(incoming.select(key).distinct(), key, "left_anti")
    return kept.unionByName(incoming, allowMissingColumns=allow_missing)


def normalize_incremental(
    new_results: DataFrame, existing: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Load a new results batch into an existing star schema with MERGE
    semantics (``name`` is the upsert identity — the reference keys
    business rows by autoincrement only, so the stable natural key the
    dims already use is the honest identity; ADVICE.md r1):

    - a re-scraped business KEEPS its previously assigned id, its
      attribute columns update, and its bridge/open_hours rows are
      rebuilt under that id (old child rows dropped);
    - novel businesses get ids past max(existing.business.id);
    - dimension ids are stable: existing names keep their ids, novel
      names get max+1.. (merge_dimension);
    - child-row ids continue past max(existing) — unique always, dense
      only when batches don't overlap (gaps where rows were replaced).
    """
    from ..cache import tracked_persist

    batch = normalize(new_results)
    out: dict[str, DataFrame] = {}

    # -- dims: stable merge ---------------------------------------------------
    dim_names = ("weekday", "food_category", "search_term", "highlight", "amenity")
    remap: dict[str, DataFrame] = {}
    for d in dim_names:
        merged = merge_dimension(existing[d], batch[d].select("name"))
        out[d] = merged
        # batch-local id → merged id translation for FK rewrite
        remap[d] = (
            batch[d]
            .select(F.col("id").alias("_old"), "name")
            .join(merged, "name")
            .select("_old", F.col("id").alias("_new"))
        )

    # -- business id map: existing id where the name matches, else shift ------
    # The batch side is bounded (one scrape run), so it broadcasts; the
    # match result is batch-sized and broadcasts back. min(id) guards
    # against duplicate names in existing.
    ex_b = existing["business"]
    batch_b = batch["business"]
    max_b = ex_b.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m"))
    matched = (
        ex_b.select("id", "name")
        .join(F.broadcast(batch_b.select("name").distinct()), "name", "left_semi")
        .groupBy("name")
        .agg(F.min("id").alias("_exid"))
    )
    bmap = tracked_persist(
        batch_b.select(F.col("id").alias("_old"), "name")
        .join(F.broadcast(matched), "name", "left")
        .crossJoin(F.broadcast(max_b))
        .select(
            "_old",
            F.coalesce(F.col("_exid"), F.col("_old") + F.col("m")).cast("bigint").alias("_new"),
            F.col("_exid").isNotNull().alias("_is_update"),
        )
    )
    incoming_b = (
        batch_b.withColumnRenamed("id", "_old")
        .join(F.broadcast(bmap.select("_old", "_new")), "_old")
        .withColumn("id", F.col("_new"))
        .drop("_old", "_new")
        .select(*ex_b.columns)
    )
    out["business"] = merge_upsert(ex_b, incoming_b, "id")
    updated_biz = bmap.filter(F.col("_is_update")).select(F.col("_new").alias("business_id"))

    def _upsert_child(table: str, fk: str | None, dim: str | None, extra: list[str]) -> DataFrame:
        df = (
            batch[table]
            .withColumnRenamed("business_id", "_old")
            .join(F.broadcast(bmap.select("_old", "_new")), "_old")
            .withColumn("business_id", F.col("_new"))
            .drop("_old", "_new")
        )
        if fk is not None and dim is not None:
            df = (
                df.join(
                    F.broadcast(remap[dim].withColumnRenamed("_old", fk)), fk
                )
                .drop(fk)
                .withColumnRenamed("_new", fk)
            )
        # ids continue past the PRE-drop max so replaced rows' ids are
        # never reused for different content
        max_t = existing[table].agg(F.coalesce(F.max("id"), F.lit(0)).alias("mt"))
        df = df.crossJoin(F.broadcast(max_t)).withColumn(
            "id", (F.col("id") + F.col("mt")).cast("bigint")
        )
        cols = ["id", "business_id"] + ([fk] if fk else []) + extra
        kept = existing[table].join(F.broadcast(updated_biz), "business_id", "left_anti")
        return kept.unionByName(df.select(*cols))

    out["open_hours"] = _upsert_child("open_hours", "weekday_id", "weekday", ["open_time", "close_time"])
    out["business_food_category"] = _upsert_child(
        "business_food_category", "food_category_id", "food_category", []
    )
    out["business_search_term"] = _upsert_child(
        "business_search_term", "search_term_id", "search_term", []
    )
    out["business_highlight"] = _upsert_child("business_highlight", "highlight_id", "highlight", [])
    out["business_amenity"] = _upsert_child(
        "business_amenity", "amenity_id", "amenity", ["is_available"]
    )
    out["quarantine"] = batch["quarantine"]
    out["hours_rejects"] = batch["hours_rejects"]
    return out


def scd2_apply(
    current: DataFrame, changes: DataFrame, key: str, tracked: list[str], batch_ts
) -> DataFrame:
    """SCD-2 emulation (pyspark-guide CDC pattern): close changed rows
    (valid_to = batch_ts), insert new versions open-ended. ``current``
    carries (key, tracked..., valid_from, valid_to NULL for open)."""
    open_rows = current.filter(F.col("valid_to").isNull())
    closed_rows = current.filter(F.col("valid_to").isNotNull())
    diff_any = _reduce(
        lambda a, b: a | b,
        [~F.col(f"c.{t}").eqNullSafe(F.col(f"n.{t}")) for t in tracked],
    )
    changed_keys = (
        open_rows.alias("c")
        .join(changes.alias("n"), F.col(f"c.{key}") == F.col(f"n.{key}"))
        .filter(diff_any)
        .select(F.col(f"c.{key}").alias(key))
        .distinct()
    )
    to_close = open_rows.join(changed_keys, key, "left_semi").withColumn(
        "valid_to", F.lit(batch_ts)
    )
    unchanged_open = open_rows.join(changed_keys, key, "left_anti")
    brand_new_keys = changes.join(open_rows.select(key), key, "left_anti").select(key).distinct()
    inserts = (
        changes.join(changed_keys.unionByName(brand_new_keys).distinct(), key, "left_semi")
        .withColumn("valid_from", F.lit(batch_ts))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
    )
    return closed_rows.unionByName(to_close).unionByName(unchanged_open).unionByName(inserts)


# ---------------------------------------------------------------------------
# Incremental aggregate-state maintenance (materialized-view merge)
# ---------------------------------------------------------------------------


def merge_agg_state(state: DataFrame, batch_state: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two partial aggregation states (count/sum registers) —
    the materialized-view maintenance step: history is NEVER rescanned,
    only its O(groups) state is re-aggregated with the new batch's
    state. Works because count/sum/min/max are commutative monoids —
    exactly the partial-agg property Spark itself exploits map-side.

    Register columns: every non-key column must be mergeable by SUM
    (counts included — a count register merges by summing)."""
    regs = [c for c in state.columns if c not in keys]
    return (
        state.unionByName(batch_state)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in regs])
    )


def agg_incremental_merge(spark, sf_dir: str):
    """Evidence query: orders is split into a 90% 'history' whose agg
    state is precomputed and a 10% 'incoming batch'; the merged state
    must equal the from-scratch aggregate (the oracle computes the
    latter). Shuffle volume of the merge: O(groups), not O(rows)."""
    from ..tables import load

    orders = load(spark, sf_dir, "orders")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("sum_price"),
        )

    history = partial(orders.filter(F.col("o_orderkey") % 10 != 0))
    batch = partial(orders.filter(F.col("o_orderkey") % 10 == 0))
    merged = merge_agg_state(history, batch, ["o_orderstatus"])
    return merged.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round("sum_price", 2).alias("sum_price_r"),
    )


def _register_incremental() -> None:
    from ..plans.catalog import register

    register(
        "agg_incremental_merge",
        agg_incremental_merge,
        """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price_r
        FROM orders GROUP BY o_orderstatus
        """,
    )


_register_incremental()


# ---------------------------------------------------------------------------
# Snapshot diff (CDC classification)
# ---------------------------------------------------------------------------


def _sig_field(c: str):
    """One column's contribution to a row signature: an INJECTIVE
    length-prefixed encoding (``v<len>:<string-value>``; NULL →
    ``n``). Unambiguously parseable left-to-right, so no combination
    of embedded separators, empty strings, or sentinel bytes can make
    two different rows encode equally (ADVICE r10)."""
    s = F.col(c).cast("string")
    return F.when(s.isNull(), F.lit("n")).otherwise(
        F.concat(F.lit("v"), F.length(s).cast("string"), F.lit(":"), s))


def _sig_field_sql(expr: str) -> str:
    """The DuckDB twin of :func:`_sig_field` (oracle parity)."""
    s = f"CAST({expr} AS VARCHAR)"
    return (f"CASE WHEN {s} IS NULL THEN 'n' ELSE 'v' || "
            f"CAST(length({s}) AS VARCHAR) || ':' || {s} END")


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare_cols: list[str]
) -> DataFrame:
    """Classify every key across two snapshots as inserted / deleted /
    updated / unchanged — change-data-capture without a log, the
    companion to :func:`merge_upsert` for pipelines that only ever see
    full extracts.

    One full-outer join keyed by ``key`` (the single shuffle; at scale
    both snapshots bucket by the key and the join is co-partitioned).
    Change detection compares md5 over an INJECTIVE encoding of the
    compare columns — each field is length-prefixed
    (``v<len>:<value>``, NULL → ``n``), so embedded separators can
    never make two different rows hash equal (ADVICE r10: the old
    ``concat_ws('\\x1f', …)`` collided on values containing the
    separator/sentinel, silently classifying a real update as
    unchanged). One portable hash instead of N column equality tests
    with NULL-semantics pitfalls; the DuckDB oracles use the same
    encoding."""
    def fp(df: DataFrame) -> DataFrame:
        sig = F.md5(F.concat(*[_sig_field(c) for c in compare_cols]))
        return df.select(F.col(key), sig.alias("sig"))

    o = fp(old).withColumnRenamed("sig", "old_sig")
    n = fp(new).withColumnRenamed("sig", "new_sig")
    joined = o.join(n, key, "full_outer")
    return joined.select(
        key,
        F.when(F.col("old_sig").isNull(), F.lit("inserted"))
        .when(F.col("new_sig").isNull(), F.lit("deleted"))
        .when(F.col("old_sig") != F.col("new_sig"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )


def cdc_snapshot_diff(spark, sf_dir: str):
    """Evidence query: two deterministic snapshots derived from orders
    (old = keys ≢0 mod 7; new = keys ≢0 mod 5, with prices doubled on
    keys ≡0 mod 3), classified and counted."""
    from ..tables import load

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    )
    d = snapshot_diff(old, new, "o_orderkey", ["o_orderstatus", "o_totalprice"])
    return d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n"))


def _register_cdc() -> None:
    from ..plans.catalog import register

    register(
        "cdc_snapshot_diff",
        cdc_snapshot_diff,
        """
        WITH old AS (
          SELECT o_orderkey, md5(concat(
                 {sig_status}, {sig_price})) AS old_sig
          FROM orders WHERE o_orderkey % 7 != 0
        ),
        new AS (
          SELECT o_orderkey, md5(concat(
                 {sig_status}, {sig_price2})) AS new_sig
          FROM orders WHERE o_orderkey % 5 != 0
        )
        SELECT CASE WHEN old_sig IS NULL THEN 'inserted'
                    WHEN new_sig IS NULL THEN 'deleted'
                    WHEN old_sig != new_sig THEN 'updated'
                    ELSE 'unchanged' END AS change_type,
               COUNT(*) AS n
        FROM old FULL OUTER JOIN new USING (o_orderkey)
        GROUP BY 1
        """.format(
            sig_status=_sig_field_sql("o_orderstatus"),
            sig_price=_sig_field_sql("o_totalprice"),
            sig_price2=_sig_field_sql(
                "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2 "
                "ELSE o_totalprice END"),
        ),
    )


_register_cdc()


# ---------------------------------------------------------------------------
# MERGE INTO-shaped copy-on-write parquet table (T1 storage tier)
# ---------------------------------------------------------------------------


class ConcurrentMergeError(RuntimeError):
    """Raised by ``merge(wait=False)`` when another writer beat this
    one to the commit (the conditional PUT of the version's manifest
    failed). The losing merge has not touched the table and can be
    retried safely."""


class ConstraintViolationError(ValueError):
    """A commit wrote rows violating a table CHECK constraint; the
    staged files were discarded before the manifest create, so readers
    never saw them and the table is unchanged."""


class TableFencedError(RuntimeError):
    """The table has been sealed by :meth:`ParquetMergeTable.fence`
    (failover promotion demoted it) — every commit path refuses.
    Reads, time travel, and the change feed keep working; the fence
    is the log's head, so a late writer that sampled the pre-fence
    head loses the conditional PUT to the fence record and lands
    here on retry."""


class _CommitRace(Exception):
    """Internal: the version this writer tried to publish was claimed
    by a concurrent commit (conditional-PUT failure). Converted to
    :class:`ConcurrentMergeError` or retried by :meth:`ParquetMergeTable._txn`."""


class ParquetMergeTable:
    """``MERGE INTO``-shaped keyed upsert/delete over plain parquet with
    versioned snapshots — the engine-native stand-in for the
    reference's single-transaction Postgres load
    (parse_and_upload_to_db.py:100,173-179) when the store is files.

    **Version identity is a MANIFEST, not a directory tree** (VERDICT
    r7 next-1). Every commit writes ``<root>/_log/<n>.json`` — the
    snapshot's data-file listing with per-file zone maps, the schema,
    the deletion vectors, and the table metadata (CHECK constraints,
    declared clustering) — and the ATOMIC CREATION of that file IS the
    commit (create-if-absent; the loser of a racing version number
    fails cleanly). Readers resolve the file list from the log, never
    from directory listing, so a version can reference files written
    by ANY earlier commit. Between full checkpoints (every
    ``_CHECKPOINT_EVERY`` commits) records are DELTAS (added/removed
    vs the parent), so the per-commit log write is O(changed files),
    not O(table files). This is the Delta/Iceberg log model; see
    LAKEHOUSE.md for the design note mapping each primitive to its
    object-store substitute.

    One commit protocol, with no locks, hardlinks or renames: each
    commit writes its new files into a fresh ``_data/tx-<id>/``
    directory and the manifest REFERENCES untouched files where they
    already live. Concurrency is optimistic — the manifest's
    conditional PUT is the only coordination point: ``wait=True``
    re-derives the batch against the new head and retries (the
    serial-replay equivalence); ``wait=False`` raises
    :class:`ConcurrentMergeError`. Table metadata changes
    (``add_constraint``, ``declare_clustering``, ``fence``) are
    metadata-only commits through the same log, so they order against
    data commits exactly like any other commit. Layout::

        <root>/_log/<n>.json          commit n's manifest (source of truth)
        <root>/_log/<n>.bloom.json    commit n's per-file Bloom index
        <root>/_data/tx-<id>/         one commit's new files

    Crash safety: a crash before the manifest create leaves a staged
    ``_data/tx-<id>/`` directory but NO committed version — readers
    never see it and ``vacuum()`` sweeps it once it is older than the
    grace window. A crash after the create is a completed commit.
    There is no pointer to flip and no torn-manifest window (the
    manifest is fully written before the atomic create).

    Scale honesty: copy-on-write rewrites what the predicate/batch
    touches — whole table unpartitioned, touched partitions with
    ``partition_by`` (one column or a tuple for nested hive layouts
    like ``("date", "source")``), individual files for the zone-map
    DML paths, and nothing at all for metadata-only deletes and
    DV-mode mutations. The partition value of a key must be immutable
    across batches (standard lakehouse constraint). Retry recipe for
    optimistic callers::

        while True:
            try:
                table.merge(batch, wait=False); break
            except ConcurrentMergeError:
                time.sleep(random.uniform(0.1, 0.5))   # then re-derive
                # the batch if it depends on table.read()
    """

    def __init__(self, spark: SparkSession, root: str, key: str,
                 partition_by: str | list[str] | tuple[str, ...] | None = None,
                 auto_compact_dv: float | None = None,
                 backend=None) -> None:
        import os

        from .storage import PosixBackend

        self.spark = spark
        # the storage seam (VERDICT r8 next-1): every METADATA I/O —
        # the _log manifest plane, bloom pair, vacuum's sweep, clone's
        # copy — goes through this backend, whose primitives each map
        # to one object-store call (see operators/storage.py +
        # LAKEHOUSE.md). Parquet DATA I/O stays on Spark. Default: the
        # local-filesystem implementation.
        self._backend = backend if backend is not None else PosixBackend()
        self.root = root
        self.key = key
        # opt-in DV maintenance: after DV-writing DML, compact when
        # density crosses this (see maintenance_plan / BASELINE.md)
        self.auto_compact_dv = auto_compact_dv
        # one column or several (hive-nested dirs p1=a/p2=b — the
        # date+source layout real lakehouse tables use); internal code
        # works on the normalized tuple
        self._parts: tuple[str, ...] = (
            () if partition_by is None
            else (partition_by,) if isinstance(partition_by, str)
            else tuple(partition_by)
        )
        self.partition_by = partition_by
        self._mcache: dict[int, dict] = {}  # version -> raw record
        self._fcache: dict[int, dict] = {}  # version -> resolved files
        self._dvcache: dict[str, bytes] = {}  # dv sidecar name -> blob
        self._kcache: dict[int, list] = {}  # version -> sorted keys
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)

    # ---- commit log (the manifest plane) ----------------------------

    def _log_dir(self) -> str:
        import os

        return os.path.join(self.root, "_log")

    def _manifest_path(self, version: int) -> str:
        import os

        return os.path.join(self._log_dir(), f"{version}.json")

    def _bloom_file(self, version: int) -> str:
        import os

        return os.path.join(self._log_dir(), f"{version}.bloom.json")

    def current_version(self) -> int:
        """Highest committed version = highest manifest in ``_log/``
        (an object-store LIST on the log prefix — the Delta protocol's
        version discovery; no pointer file to read or flip)."""
        entries = self._backend.list_names(self._log_dir())
        best = 0
        for e in entries:
            m = _re.fullmatch(r"(\d+)\.json", e)
            if m:
                best = max(best, int(m.group(1)))
        return best

    # Full ("checkpoint") manifests list every file; in between,
    # commits write DELTA records (added/removed vs the parent) so the
    # per-commit log write is O(changed files), not O(table files) —
    # at 100 TB (~800k files) a full listing per commit would be a
    # ~GB JSON rewrite every merge. This is the Delta Lake log design
    # (per-commit JSON actions + periodic parquet checkpoints);
    # readers resolve a version by walking back to the nearest full
    # record (≤ _CHECKPOINT_EVERY hops) and replaying the deltas.
    _CHECKPOINT_EVERY = 10

    def _manifest(self, version: int) -> dict:
        """Load (and cache — manifests are immutable) one RAW commit
        record: either a full listing (``files``) or a delta
        (``delta_of``/``added``/``removed``). Use :meth:`_files` for
        the resolved file list."""
        man = self._mcache.get(version)
        if man is None:
            import json as _json

            man = _json.loads(self._backend.get(self._manifest_path(version)))
            if man.get("base") != "root":
                raise self._retired(
                    version, f"{man.get('base', 'snapshot')!r} manifest "
                    "(per-version v=<n> snapshot directories)")
            for sec in ("files", "added"):
                for e in man.get(sec, {}).values():
                    self._check_entry(version, e)
            self._mcache[version] = man
        return man

    # One on-disk format: every reader decodes a record or sidecar in
    # exactly one place (_manifest, _ckpt_table, file_index,
    # _feed_marker), and that place refuses the layouts older builds
    # wrote instead of carrying read-compat branches for them.

    def _retired(self, version: int, layout: str) -> ValueError:
        return ValueError(
            f"table at {self.root}: v{version} uses the retired {layout} "
            "layout; only the current on-disk format is supported")

    def _check_entry(self, version: int, e) -> None:
        """A file entry must be ``{"rows", "cols": {col: zone},
        "bytes": int, ...}`` — what every writer records."""
        if not isinstance(e, dict) or not isinstance(e.get("cols"), dict):
            raise self._retired(version, "bare col->zone file entry")
        b = e.get("bytes")
        if not isinstance(b, int) or isinstance(b, bool):
            raise self._retired(version, "file entry without bytes (pre-r9)")

    # Full manifests above this many files externalize their listing
    # to a PARQUET sidecar (zstd, one row per file) instead of inline
    # JSON — the Delta parquet-checkpoint design the log model cites
    # (VERDICT r8 next-2). Measured at 100k files: 36.8 MB inline JSON
    # vs 0.75 MB parquet, and a plain read() resolves KEYS ONLY from
    # the sidecar's key column in ~0.1 s instead of parsing every zone
    # map. Small tables keep the debuggable inline form.
    _CKPT_INLINE_MAX = 2_000

    @staticmethod
    def _is_full(man: dict) -> bool:
        return "files" in man or "ckpt" in man

    def _ckpt_path(self, name: str) -> str:
        import os

        return os.path.join(self._log_dir(), name)

    # -- checkpoint entry codec (the COLUMNAR stats layout) -----------
    #
    # Resolving a predicate must not parse EVERY file's full entry
    # into a driver dict (~12 s and GB-scale memory at a 100 TB
    # table's ~800k files), so the sidecar columnarizes the zone maps:
    # per table column c the sidecar carries ``z:min:c`` / ``z:max:c``
    # (JSON-encoded normalized bounds), ``z:nul:c`` (exact null count,
    # NULL = unknown) and ``z:an:c`` (TRUE = all-null zone, FALSE =
    # zone present, NULL = column absent from this file's stats), so a
    # skipping resolve reads ONLY the predicate columns' arrays — the
    # Delta "data skipping over the checkpoint" design as a lazy
    # columnar read. Entries that don't fit the canonical shape ride
    # the ``xjson`` fallback column verbatim (losslessness by
    # construction; tests fuzz the round-trip).

    _ENTRY_KEYS = frozenset(("rows", "cols", "bytes"))

    @classmethod
    def _encode_entry(cls, e) -> tuple | None:
        """(rows, bytes, {col: (min_json, max_json, nulls, all_null)})
        for a canonical-shaped entry, else None (→ xjson fallback).
        STRICT: only shapes whose decode is identity-by-construction
        are accepted, so no decode-and-compare pass is needed."""
        import json as _json

        if not isinstance(e, dict) or not cls._ENTRY_KEYS >= e.keys():
            return None
        rows, cols, byts = e.get("rows"), e.get("cols"), e.get("bytes")
        if not isinstance(rows, int) or isinstance(rows, bool) or \
                not isinstance(byts, int) or isinstance(byts, bool) or \
                not isinstance(cols, dict):
            return None
        out: dict[str, tuple] = {}
        for c, z in cols.items():
            if not isinstance(c, str) or not isinstance(z, dict):
                return None
            zk = z.keys()
            if not zk:
                out[c] = (None, None, None, False)      # unbounded {}
                continue
            if zk == {"all_null"}:
                if z["all_null"] is not True:
                    return None
                out[c] = (None, None, None, True)
                continue
            if zk not in ({"min", "max"}, {"min", "max", "nulls"}):
                return None
            nulls = z.get("nulls")
            if "nulls" in z and (not isinstance(nulls, int) or
                                 isinstance(nulls, bool)):
                return None
            pair = []
            for v in (z["min"], z["max"]):
                if isinstance(v, bool) or not isinstance(
                        v, (int, float, str, list)):
                    return None
                if isinstance(v, float) and v != v:     # NaN: no order
                    return None
                pair.append(_json.dumps(v, separators=(",", ":")))
            out[c] = (pair[0], pair[1], nulls, False)
        return rows, byts, out

    @staticmethod
    def _decode_zone(mn, mx, nulls, an) -> dict | None:
        """One column's zone from its four checkpoint cells (None =
        column absent). Inverse of _encode_entry's per-zone encoding."""
        import json as _json

        if an is None:
            return None
        if an:
            return {"all_null": True}
        if mn is None:
            return {}
        z = {"min": _json.loads(mn), "max": _json.loads(mx)}
        if nulls is not None:
            z["nulls"] = nulls
        return z

    @classmethod
    def _entries_to_arrow(cls, files: dict):
        """Encode a {key: entry} dict as one Arrow table in the
        columnar checkpoint layout (keys sorted; non-canonical entries
        ride ``xjson``). O(len(files)) Python — callers keep this on
        BOUNDED inputs (delta records, the inline tier); the unbounded
        steady-state path is :meth:`_carry_checkpoint`, which never
        re-encodes carried entries."""
        import json as _json

        import pyarrow as pa

        keys = sorted(files)
        n = len(keys)
        rows_a: list = [None] * n
        bytes_a: list = [None] * n
        xjson: list = [None] * n
        zcols: dict[str, list] = {}   # col -> [(mn,mx,nul,an)]*n lazily
        for i, k in enumerate(keys):
            enc = cls._encode_entry(files[k])
            if enc is None:
                xjson[i] = _json.dumps(files[k], separators=(",", ":"))
                continue
            rows_a[i], bytes_a[i], colz = enc
            for c, cell in colz.items():
                arr = zcols.get(c)
                if arr is None:
                    arr = zcols[c] = [None] * n
                arr[i] = cell
        cols: dict = {"key": pa.array(keys, pa.string()),
                      "rows": pa.array(rows_a, pa.int64()),
                      "bytes": pa.array(bytes_a, pa.int64())}
        for c in sorted(zcols):
            arr = zcols[c]
            cols[f"z:min:{c}"] = pa.array(
                [x[0] if x else None for x in arr], pa.string())
            cols[f"z:max:{c}"] = pa.array(
                [x[1] if x else None for x in arr], pa.string())
            cols[f"z:nul:{c}"] = pa.array(
                [x[2] if x else None for x in arr], pa.int64())
            cols[f"z:an:{c}"] = pa.array(
                [x[3] if x else None for x in arr], pa.bool_())
        cols["xjson"] = pa.array(xjson, pa.string())
        return pa.table(cols)

    def _write_ckpt_sidecar(self, new_v: int, table) -> str:
        """Write one Arrow table as ``<n>.ckpt.<token>.parquet`` and
        return the sidecar name. Unique token: racing writers never
        collide; a loser's sidecar is an unreferenced orphan vacuum
        sweeps past the grace window."""
        import io
        import uuid

        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(table, buf, compression="zstd")
        name = f"{new_v}.ckpt.{uuid.uuid4().hex[:10]}.parquet"
        self._backend.put(self._ckpt_path(name), buf.getvalue())
        return name

    def _externalize_files(self, new_v: int, man: dict) -> dict:
        """If the record is FULL and large, move its ``files`` section
        to ``<n>.ckpt.<token>.parquet`` (columnar stats layout above)
        and reference it as ``man["ckpt"]``. Written BEFORE the
        manifest's conditional PUT."""
        files = man.get("files")
        if files is None or len(files) <= self._CKPT_INLINE_MAX:
            return man
        name = self._write_ckpt_sidecar(new_v,
                                        self._entries_to_arrow(files))
        out = {k: v for k, v in man.items() if k != "files"}
        out["ckpt"] = name
        return out

    def _ckpt_column_order(self, names) -> list[str]:
        """Deterministic checkpoint column order: key, rows, bytes,
        sorted zone columns, xjson — the layout _entries_to_arrow
        writes, re-imposed after a concat/union added columns."""
        zs = sorted(n for n in names if n.startswith("z:"))
        return ["key", "rows", "bytes"] + zs + ["xjson"]

    def _carry_checkpoint(self, new_v: int, parent_v: int,
                          keep_rels, entries: dict) -> str:
        """Build checkpoint ``new_v``'s sidecar by COLUMNAR CARRY from
        the parent's nearest full record and return the sidecar name.
        Carried entries are never touched row-at-a-time: the parent
        sidecar is filtered with one vectorized ``is_in`` mask, the
        bounded O(changed-files) override set (delta-chain adds + this
        commit's new entries) is encoded and concatenated with
        null-promotion for new zone columns, and the result is
        key-sorted and written — all Arrow kernels (Delta's
        checkpoint-from-checkpoint design). ``tools/bench_manifest.py``
        measures it: 3.7 s at 1M files on a 4-core host, where the
        per-file dict re-encode it replaced took 33.9 s."""
        import pyarrow as pa
        import pyarrow.compute as pc

        chain, man = self._walk_to_full(parent_v)
        fileset = set(keep_rels) | set(entries)
        # replay the bounded delta chain: which keys' entries are
        # defined by a delta (latest wins) vs by the full record
        addmap: dict = {}
        for d in reversed(chain):
            for r in d.get("removed", ()):
                addmap.pop(r, None)
            addmap.update(d.get("added", {}))
        override = {k: e for k, e in addmap.items()
                    if k in fileset and k not in entries}
        override.update(entries)
        carry_set = fileset - set(override)
        if "files" in man:
            # inline full parent (≤ _CKPT_INLINE_MAX entries): the
            # bounded dict encode IS the cheap path
            base = self._entries_to_arrow(
                {k: v for k, v in man["files"].items() if k in carry_set})
        else:
            t = self._ckpt_table(man)
            base = t.filter(pc.is_in(
                t.column("key"),
                value_set=pa.array(list(carry_set), pa.string())))
        if base.num_rows != len(carry_set):
            raise RuntimeError(
                f"table at {self.root}: v{new_v} carries "
                f"{len(carry_set)} files but v{man['version']}'s "
                f"listing holds {base.num_rows} of them")
        parts = [base]
        if override:
            parts.append(self._entries_to_arrow(override))
        comb = (pa.concat_tables(parts, promote_options="default")
                if len(parts) > 1 else base)
        comb = comb.take(pc.sort_indices(comb, [("key", "ascending")]))
        comb = comb.select(self._ckpt_column_order(comb.schema.names))
        return self._write_ckpt_sidecar(new_v, comb)

    def _ckpt_table(self, man: dict, columns=None):
        """Read the checkpoint sidecar, optionally a COLUMN SUBSET —
        the lazy read the skipping plane rides on (requested zone
        columns the sidecar lacks are skipped). The layout is checked
        from the schema and footer statistics, so a keys-only read
        stays a one-column read: r9 ``(key, entry)`` sidecars and
        canonical rows without ``bytes`` are refused, and the rare
        ``xjson`` entries are checked when that column is read."""
        import io
        import json as _json

        import pyarrow.parquet as pq

        v = man["version"]
        pf = pq.ParquetFile(
            io.BytesIO(self._backend.get(self._ckpt_path(man["ckpt"]))))
        names = pf.schema_arrow.names
        if "entry" in names:
            raise self._retired(v, "r9 (key, entry) checkpoint sidecar")
        # every row is canonical (bytes set) or xjson (bytes NULL), so
        # NULL bytes beyond the xjson row count are unsized entries
        md = pf.metadata
        nulls = 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for c in ("bytes", "xjson"):
                st = rg.column(names.index(c)).statistics
                nulls += (st.null_count if st is not None and
                          st.has_null_count else 0)
        if nulls > md.num_rows:
            raise self._retired(v, "file entry without bytes (pre-r9)")
        t = pf.read(columns=None if columns is None else
                    [c for c in columns if c in names])
        if "xjson" in t.column_names:
            x = t.column("xjson")
            if x.null_count < len(x):
                for s in x.drop_null().to_pylist():
                    self._check_entry(v, _json.loads(s))
        return t

    def _full_files(self, man: dict) -> dict:
        """The files section of a FULL record — inline, or decoded
        from its columnar parquet checkpoint sidecar."""
        if "files" in man:
            return man["files"]
        import json as _json

        t = self._ckpt_table(man)
        keys = t.column("key").to_pylist()
        rows_a = t.column("rows").to_pylist()
        bytes_a = t.column("bytes").to_pylist()
        xjson = t.column("xjson").to_pylist()
        zc = sorted(c[len("z:an:"):] for c in t.column_names
                    if c.startswith("z:an:"))
        cells = {
            c: (t.column(f"z:min:{c}").to_pylist(),
                t.column(f"z:max:{c}").to_pylist(),
                t.column(f"z:nul:{c}").to_pylist(),
                t.column(f"z:an:{c}").to_pylist())
            for c in zc
        }
        out: dict[str, dict] = {}
        for i, k in enumerate(keys):
            if xjson[i] is not None:
                out[k] = _json.loads(xjson[i])
                continue
            cols: dict[str, dict] = {}
            for c, (mns, mxs, nls, ans) in cells.items():
                z = self._decode_zone(mns[i], mxs[i], nls[i], ans[i])
                if z is not None:
                    cols[c] = z
            out[k] = {"rows": rows_a[i], "cols": cols, "bytes": bytes_a[i]}
        return out

    # Deletion vectors above this many TOTAL inline positions per
    # record externalize to a binary sidecar (<v>.dv.<token>.bin,
    # packed little-endian int64 row positions). Without this, every
    # commit record re-serializes every carried DV — O(deleted rows)
    # JSON per commit, which at 100 TB (millions of DV'd positions
    # between compactions) dwarfs the delta records the log model
    # keeps small. With it, a commit writes positions ONCE; carried
    # entries are ~60-byte {ref, off, n} pointers into the parent's
    # sidecar (zero I/O carry), and sidecars are reference-counted by
    # vacuum like data files.
    _DV_INLINE_TOTAL_MAX = 2_048

    def _dv_sidecar_path(self, name: str) -> str:
        import os

        return os.path.join(self._log_dir(), name)

    @staticmethod
    def _dv_count(entry) -> int:
        """Position count of a dv entry without loading it."""
        return entry["n"] if isinstance(entry, dict) else len(entry)

    def _dv_blob(self, name: str) -> bytes:
        got = self._dvcache.get(name)
        if got is None:
            got = self._backend.get(self._dv_sidecar_path(name))
            if len(self._dvcache) > 4:
                self._dvcache.pop(next(iter(self._dvcache)), None)
            self._dvcache[name] = got
        return got

    def _dv_positions(self, entry) -> list[int]:
        """Resolve a dv entry (inline list or sidecar ref) to its
        sorted position list."""
        if not isinstance(entry, dict):
            return list(entry)
        import numpy as np

        return np.frombuffer(
            self._dv_blob(entry["ref"]), dtype="<i8",
            count=entry["n"], offset=entry["off"] * 8,
        ).tolist()

    def _externalize_dv(self, new_v: int, rec: dict) -> dict:
        """Move a record's INLINE dv position lists to a binary
        sidecar when their total crosses the threshold; entries that
        are already refs stay untouched (the zero-I/O carry). Written
        under a unique token BEFORE the manifest's conditional PUT —
        same atomicity story as the parquet checkpoint."""
        dv = rec.get("dv") or {}
        inline_total = sum(len(e) for e in dv.values()
                           if not isinstance(e, dict))
        if inline_total <= self._DV_INLINE_TOTAL_MAX:
            return rec
        import uuid

        import numpy as np

        name = f"{new_v}.dv.{uuid.uuid4().hex[:10]}.bin"
        blob = bytearray()
        out: dict = {}
        off = 0
        for k in sorted(dv):
            e = dv[k]
            if isinstance(e, dict):
                out[k] = e
                continue
            arr = np.asarray(sorted(e), dtype="<i8")
            blob += arr.tobytes()
            out[k] = {"ref": name, "off": off, "n": int(arr.size)}
            off += int(arr.size)
        self._backend.put(self._dv_sidecar_path(name), bytes(blob))
        rec = dict(rec)
        rec["dv"] = out
        return rec

    def _build_new_dv(self, matched, old_v: int) -> dict:
        """Assemble this commit's deletion-vector additions
        EXECUTOR-SIDE (VERDICT r10 next-2). ``matched`` is the
        DV-aware positional scan filtered to the newly deleted rows
        (carries ``_file_rel``/``_row_pos``). The r10 path collected
        every (file, pos) pair to the driver — a 1%-of-table DV delete
        at 100 TB (~1e9 matched rows) OOMs it. Here executors
        repartition by file, sort, and pack each file's positions into
        little-endian int64 blobs (Arrow-batched ``mapInPandas``); the
        driver STREAMS the per-file blobs into the binary sidecar via
        ``backend.put_stream`` (the multipart-upload shape),
        pre-merging each touched file's carried parent positions, and
        holds only {ref, off, n} pointers — peak driver memory is
        O(one file's positions), never O(all positions). Results under
        ``_DV_INLINE_TOTAL_MAX`` total positions return as plain
        inline position lists (the small/debuggable tier, merged by
        :meth:`_assemble_manifest` exactly as before)."""
        import uuid

        import numpy as np

        def pack(batches):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                if not len(pdf):
                    continue
                rels, blobs, ns = [], [], []
                for rel, grp in pdf.groupby("_file_rel", sort=False):
                    arr = _np.sort(
                        grp["_row_pos"].to_numpy(_np.int64)
                    ).astype("<i8")
                    rels.append(rel)
                    blobs.append(arr.tobytes())
                    ns.append(len(arr))
                yield _pd.DataFrame({"rel": rels, "blob": blobs,
                                     "n": ns})

        # one file's rows live in one partition; within it they are
        # globally sorted, so a file split across Arrow batches yields
        # CONSECUTIVE, order-preserving segments the driver re-joins
        packed = (matched.select("_file_rel", "_row_pos")
                  .repartition("_file_rel")
                  .sortWithinPartitions("_file_rel", "_row_pos")
                  .mapInPandas(pack, "rel string, blob binary, n long"))

        parent_dv = ((self._manifest(old_v).get("dv") or {})
                     if old_v >= 1 else {})

        def per_file(rows):
            """Collapse consecutive same-file segments → one
            (rel, blob, n) per file."""
            cur_rel, parts, cur_n = None, [], 0
            for r in rows:
                if r.rel != cur_rel:
                    if cur_rel is not None:
                        yield cur_rel, b"".join(parts), cur_n
                    cur_rel, parts, cur_n = r.rel, [], 0
                parts.append(bytes(r.blob))
                cur_n += int(r.n)
            if cur_rel is not None:
                yield cur_rel, b"".join(parts), cur_n

        it = per_file(packed.toLocalIterator())
        # inline tier: accumulate until the threshold trips
        acc: list[tuple[str, bytes, int]] = []
        total = 0
        streaming = False
        for rel, blob, n in it:
            acc.append((rel, blob, n))
            total += n
            if total > self._DV_INLINE_TOTAL_MAX:
                streaming = True
                break
        if not streaming:
            return {rel: np.frombuffer(blob, dtype="<i8").tolist()
                    for rel, blob, n in acc}

        import itertools as _it

        name = f"{old_v + 1}.dv.{uuid.uuid4().hex[:10]}.bin"
        entries: dict[str, dict] = {}

        def merged_blob(rel: str, blob: bytes):
            """Pre-merge the file's carried parent positions (exact
            manifest-key semantics, matching the inline merge path);
            the resulting entry REPLACES the carried one wholesale."""
            old = parent_dv.get(rel)
            if old is None:
                return blob
            cur = np.asarray(self._dv_positions(old), dtype="<i8")
            new = np.frombuffer(blob, dtype="<i8")
            return np.union1d(cur, new).astype("<i8").tobytes()

        def chunks():
            off = 0
            for rel, blob, _n in _it.chain(iter(acc), it):
                b = merged_blob(rel, blob)
                n = len(b) // 8
                entries[rel] = {"ref": name, "off": off, "n": n}
                off += n
                yield b

        put_stream = getattr(self._backend, "put_stream", None)
        if put_stream is not None:
            put_stream(self._dv_sidecar_path(name), chunks())
        else:  # wrapper backends without the streaming primitive
            self._backend.put(self._dv_sidecar_path(name),
                              b"".join(chunks()))
        return entries

    def _walk_to_full(self, version: int) -> tuple[list[dict], dict]:
        """(delta chain newest-first, nearest full record at/below)."""
        chain: list[dict] = []
        man = self._manifest(version)
        while not self._is_full(man):
            chain.append(man)
            man = self._manifest(man["delta_of"])
        return chain, man

    def _files(self, version: int) -> dict:
        """The RESOLVED file list (manifest key → zone map) of a
        version: the nearest full manifest at-or-below it with every
        intervening delta replayed. Cached; treat the returned dict as
        immutable."""
        got = self._fcache.get(version)
        if got is not None:
            return got
        chain, man = self._walk_to_full(version)
        files = dict(self._full_files(man))
        for d in reversed(chain):
            for r in d.get("removed", ()):
                files.pop(r, None)
            files.update(d.get("added", {}))
        if len(self._fcache) > 8:  # bounded: resolved lists are O(files)
            self._fcache.pop(next(iter(self._fcache)), None)
        self._fcache[version] = files
        return files

    def _file_keys(self, version: int) -> list[str]:
        """JUST the manifest keys of a version — what a plain
        ``read()`` scan needs. With a parquet checkpoint this is a
        keys-only column read (no zone-map parse at all): the cold
        resolve a 100 TB reader pays drops from O(parse every zone)
        to O(read one string column) — measured 0.94 s → 0.10 s at
        100k files (BASELINE.md manifest-plane ladder)."""
        got = self._fcache.get(version)
        if got is not None:
            return sorted(got)
        cached = self._kcache.get(version)
        if cached is not None:
            return cached
        chain, man = self._walk_to_full(version)
        if "files" in man:
            keys = set(man["files"])
        else:
            keys = set(self._ckpt_table(man, columns=["key"])
                       .column("key").to_pylist())
        for d in reversed(chain):
            keys.difference_update(d.get("removed", ()))
            keys.update(d.get("added", {}))
        out = sorted(keys)
        if len(self._kcache) > 8:  # bounded, like _fcache
            self._kcache.pop(next(iter(self._kcache)), None)
        self._kcache[version] = out
        return out

    # ---- lazy columnar zone plane (VERDICT r9 next-1) ----------------
    #
    # Every skipping consumer — read_where pruning, count_where,
    # DML keep/touch classification, read_point — used to call
    # _files() and parse ALL per-file zone-map JSON into one driver
    # dict (~12 s + GB-scale memory at 800k files). _zone_arrays
    # resolves a version's stats as COLUMN ARRAYS, reading only the
    # requested columns from the checkpoint sidecar (plus the bounded
    # delta chain and the rare xjson fallbacks), and the _mask_*
    # classifiers run over the arrays without building per-file dicts:
    # cold skipping resolve is O(read predicate columns) — CI-budgeted
    # at ≤2 µs/file (tests/test_manifest_scale.py) and ladder-measured
    # to 1M files (BASELINE.md).

    @staticmethod
    def _loads_arrow(col) -> list:
        """Decode an Arrow column of JSON-scalar strings in ONE
        json.loads call: arrow-side fill_null + binary_join build the
        array literal (both C++), so no per-value to_pylist happens —
        measured 13 ms vs 82 ms at 100k values."""
        import json as _json

        import pyarrow as pa
        import pyarrow.compute as pc

        if len(col) == 0:
            return []
        filled = pc.fill_null(col.combine_chunks(), "null")
        la = pa.ListArray.from_arrays(
            pa.array([0, len(filled)], pa.int32()), filled)
        return _json.loads("[" + pc.binary_join(la, ",")[0].as_py() + "]")

    @staticmethod
    def _col_list(col) -> list:
        """Arrow column → python list, the cheap way: null-free bool/
        int columns round through numpy's C tolist (~0.2 ms vs ~35 ms
        at 100k); anything nullable falls back to to_pylist."""
        c = col.combine_chunks()
        if c.null_count == 0:
            try:
                return c.to_numpy(zero_copy_only=False).tolist()
            except (ValueError, TypeError, NotImplementedError):
                pass
        return c.to_pylist()

    # keys/rows arrays may stay ARROW-side until a consumer touches
    # them (deferred materialization: a narrow probe touches O(kept)
    # elements, never O(files)); these three helpers are the only
    # sanctioned accessors.

    @staticmethod
    def _seq_get(seq, i):
        v = seq[i]
        return v if isinstance(seq, list) else v.as_py()

    @staticmethod
    def _seq_list(seq) -> list:
        if isinstance(seq, list):
            return seq
        arr = seq.combine_chunks()
        if arr.null_count:
            # to_pandas() coerces a nullable int64 column to float64
            # (null → NaN, 100 → 100.0) — which would break every
            # isinstance(n, int) consumer (dv_density, count_where)
            # the moment a checkpoint carries one xjson-fallback row.
            # to_pylist preserves int/None exactly.
            return arr.to_pylist()
        return arr.to_pandas().tolist()

    @staticmethod
    def _keys_where(keys, mask) -> list[str]:
        """SORTED key subset under a python bool mask — arrow keys go
        through vectorized filter, never a full to_pylist."""
        if isinstance(keys, list):
            return sorted(k for k, m in zip(keys, mask) if m)
        import pyarrow as pa
        import pyarrow.compute as pc

        return sorted(pc.filter(keys.combine_chunks(),
                                pa.array(mask)).to_pylist())

    def _zone_arrays(self, version: int, cols,
                     with_bytes: bool = False,
                     with_rows: bool = True) -> tuple:
        """``(keys, rows, bytes, za)`` for the version's resolved file
        list — keys/rows/bytes aligned sequences (python lists OR
        arrow arrays: use _seq_get/_seq_list/_keys_where; rows/bytes
        None unless requested); ``za[c] = (mins, maxs, nulls, ans)``
        aligned python lists with decoded bounds, present only for
        requested columns that carry any zone info. Sources, cheapest
        first: the resolver cache, an inline full record, the
        checkpoint's COLUMN SUBSET; then the delta chain replays on
        top."""
        cols = list(cols)
        cached = self._fcache.get(version)
        if cached is not None:
            return self._arrays_from_dict(cached, cols, with_bytes,
                                          with_rows)
        chain, man = self._walk_to_full(version)
        if "files" in man:
            keys, rows, byts, za = self._arrays_from_dict(
                man["files"], cols, with_bytes, with_rows)
        else:
            keys, rows, byts, za = self._arrays_from_ckpt(
                man, cols, with_bytes, with_rows)
        if chain:
            drop: set = set()
            addmap: dict = {}
            for d in reversed(chain):
                for r in d.get("removed", ()):
                    drop.add(r)
                    addmap.pop(r, None)
                for k, e in d.get("added", {}).items():
                    addmap[k] = e
                    drop.discard(k)
            keys = self._seq_list(keys)
            if rows is not None:
                rows = self._seq_list(rows)
            if drop or addmap:
                gone = drop | set(addmap)
                sel = [i for i, k in enumerate(keys) if k not in gone]
                keys = [keys[i] for i in sel]
                if rows is not None:
                    rows = [rows[i] for i in sel]
                if byts is not None:
                    byts = [byts[i] for i in sel]
                za = {c: tuple([a[i] for i in sel] for a in t)
                      for c, t in za.items()}
            if addmap:
                ak, ar, ab, az = self._arrays_from_dict(
                    addmap, cols, with_bytes, with_rows)
                keys += ak
                if rows is not None:
                    rows += ar
                if byts is not None:
                    byts += ab
                for c in set(za) | set(az):
                    base = za.get(c) or tuple(
                        [None] * (len(keys) - len(ak)) for _ in range(4))
                    add = az.get(c) or tuple(
                        [None] * len(ak) for _ in range(4))
                    za[c] = tuple(b + a for b, a in zip(base, add))
        return keys, rows, byts, za

    def _arrays_from_dict(self, files: dict, cols, with_bytes,
                          with_rows: bool = True) -> tuple:
        keys = sorted(files)
        rows: list | None = [] if with_rows else None
        byts: list | None = [] if with_bytes else None
        za = {c: ([], [], [], []) for c in cols}
        for k in keys:
            e = files[k]
            if rows is not None:
                r = e.get("rows")
                rows.append(r if isinstance(r, int) and
                            not isinstance(r, bool) else None)
            if byts is not None:
                byts.append(e["bytes"])
            cz = e["cols"]
            for c, (mns, mxs, nls, ans) in za.items():
                z = cz.get(c)
                if not isinstance(z, dict):
                    mns.append(None); mxs.append(None)
                    nls.append(None); ans.append(None)
                elif z.get("all_null"):
                    mns.append(None); mxs.append(None)
                    nls.append(None); ans.append(True)
                elif "min" not in z:
                    mns.append(None); mxs.append(None)
                    nls.append(None); ans.append(False)
                else:
                    mns.append(z["min"]); mxs.append(z["max"])
                    n_ = z.get("nulls")
                    nls.append(n_ if isinstance(n_, int) and
                               not isinstance(n_, bool) else None)
                    ans.append(False)
        return keys, rows, byts, {c: t for c, t in za.items()
                                  if any(a is not None for a in t[3])}

    def _arrays_from_ckpt(self, man: dict, cols, with_bytes,
                          with_rows: bool = True) -> tuple:
        """The LAZY columnar read: key (+ rows/bytes when asked) + the
        requested columns' four stat arrays + the xjson fallback —
        nothing else leaves the sidecar, and keys/rows stay ARROW
        until a consumer materializes what it touches."""
        import json as _json

        want = ["key", "xjson"]
        if with_rows:
            want.append("rows")
        if with_bytes:
            want.append("bytes")
        for c in cols:
            want += [f"z:min:{c}", f"z:max:{c}", f"z:nul:{c}", f"z:an:{c}"]
        t = self._ckpt_table(man, columns=want)
        names = set(t.schema.names)
        keys = t.column("key")
        n = len(keys)
        rows = t.column("rows") if with_rows else None
        byts = self._col_list(t.column("bytes")) if with_bytes else None
        za: dict = {}
        for c in cols:
            if f"z:an:{c}" not in names:
                continue
            za[c] = (self._loads_arrow(t.column(f"z:min:{c}")),
                     self._loads_arrow(t.column(f"z:max:{c}")),
                     self._col_list(t.column(f"z:nul:{c}")),
                     self._col_list(t.column(f"z:an:{c}")))
        xcol = t.column("xjson").combine_chunks()
        if xcol.null_count == n:
            return keys, rows, byts, za
        # xjson fallbacks present: patch their decoded entries in
        # (rare — non-canonical entries only), materializing the
        # touched sequences first
        keys = self._seq_list(keys)
        if rows is not None:
            rows = self._seq_list(rows)
        xjson = xcol.to_pylist()
        for i, xj in enumerate(xjson):
            if xj is None:
                continue
            e = _json.loads(xj)
            if rows is not None:
                r = e.get("rows")
                rows[i] = (r if isinstance(r, int) and
                           not isinstance(r, bool) else None)
            if byts is not None:
                byts[i] = e["bytes"]
            cz = e["cols"]
            for c in cols:
                z = cz.get(c)
                if not isinstance(z, dict):
                    cell = (None, None, None, None)
                elif z.get("all_null"):
                    cell = (None, None, None, True)
                elif "min" not in z:
                    cell = (None, None, None, False)
                else:
                    n_ = z.get("nulls")
                    cell = (z["min"], z["max"],
                            n_ if isinstance(n_, int) and
                            not isinstance(n_, bool) else None, False)
                if c not in za:
                    if cell[3] is None:
                        continue
                    za[c] = tuple([None] * n for _ in range(4))
                for a, v in zip(za[c], cell):
                    a[i] = v
        return keys, rows, byts, za

    _NUM = (int, float)

    def _mask_range(self, za: dict, n: int, ranges: dict,
                    need_contained: bool) -> tuple[list, list | None]:
        """Array-wise twin of per-file _range_keep/_range_contained
        (semantic parity fuzzed by tests/test_skipping_property.py):
        keep[i] False only when the zones PROVE no row matches;
        contained[i] True only when they PROVE every row matches."""
        keep = [True] * n
        cont = [True] * n if need_contained else None
        num = self._NUM
        for col, (lo, hi) in ranges.items():
            nlo, nhi = self._stat_norm(lo), self._stat_norm(hi)
            # a bound present but outside the stats plane can neither
            # prune nor prove containment (mirrors the dict twins)
            lo_dead = lo is not None and nlo is None
            hi_dead = hi is not None and nhi is None
            t = za.get(col)
            if t is None:
                # no zone info anywhere for a probed column: never
                # prunes, never proves containment (the dict twin is
                # conservative here even for a (None, None) bound)
                if cont is not None:
                    cont = [False] * n
                continue
            mins, maxs, nuls, ans = t
            lo_num = isinstance(nlo, num) and not isinstance(nlo, bool)
            hi_num = isinstance(nhi, num) and not isinstance(nhi, bool)
            lo_str = isinstance(nlo, str)
            hi_str = isinstance(nhi, str)
            lt = self._stat_lt
            for i in range(n):
                an = ans[i]
                if an is None:
                    if cont is not None:
                        cont[i] = False
                    continue
                if an:
                    keep[i] = False
                    if cont is not None:
                        cont[i] = False
                    continue
                mn = mins[i]
                if mn is None:               # unbounded {} zone
                    if cont is not None:
                        cont[i] = False
                    continue
                mx = maxs[i]
                if keep[i]:
                    if nlo is not None:
                        if lo_num:
                            if isinstance(mx, num) and mx < nlo:
                                keep[i] = False
                        elif lo_str:
                            if isinstance(mx, str) and mx < nlo:
                                keep[i] = False
                        elif lt(mx, nlo):
                            keep[i] = False
                    if keep[i] and nhi is not None:
                        if hi_num:
                            if isinstance(mn, num) and nhi < mn:
                                keep[i] = False
                        elif hi_str:
                            if isinstance(mn, str) and nhi < mn:
                                keep[i] = False
                        elif lt(nhi, mn):
                            keep[i] = False
                if cont is not None and cont[i]:
                    if nuls[i] != 0 or lo_dead or hi_dead:
                        cont[i] = False
                        continue
                    if lo is not None:
                        if lo_num:
                            if not isinstance(mn, num) or mn < nlo:
                                cont[i] = False
                                continue
                        elif lo_str:
                            if not isinstance(mn, str) or mn < nlo:
                                cont[i] = False
                                continue
                        elif lt(mn, nlo) is not False:
                            cont[i] = False
                            continue
                    if hi is not None:
                        if hi_num:
                            if not isinstance(mx, num) or nhi < mx:
                                cont[i] = False
                        elif hi_str:
                            if not isinstance(mx, str) or nhi < mx:
                                cont[i] = False
                        elif lt(nhi, mx) is not False:
                            cont[i] = False
        return keep, cont

    def _mask_point(self, za: dict, n: int, col: str,
                    norm_vals: list) -> list:
        """Array-wise twin of _point_prune's zone hit test: hit[i]
        False only when NO probe value can land inside the zone.
        ``norm_vals`` are the already-normalized probes (None entries
        — unnormalizable probes — force keep, handled by caller)."""
        t = za.get(col)
        if t is None:
            return [True] * n
        mins, maxs, nuls, ans = t
        hit = [True] * n
        num = self._NUM
        all_num = all(isinstance(v, num) and not isinstance(v, bool)
                      for v in norm_vals)
        all_str = all(isinstance(v, str) for v in norm_vals)
        lt = self._stat_lt
        for i in range(n):
            an = ans[i]
            if an is None:
                continue
            if an:
                hit[i] = False
                continue
            mn = mins[i]
            if mn is None:
                continue
            mx = maxs[i]
            if all_num and isinstance(mn, num) and isinstance(mx, num):
                hit[i] = any(mn <= v <= mx for v in norm_vals)
                continue
            if all_str and isinstance(mn, str) and isinstance(mx, str):
                hit[i] = any(mn <= v <= mx for v in norm_vals)
                continue
            ok = False
            for v in norm_vals:
                below = lt(v, mn)
                above = lt(mx, v)
                if below is None or above is None or \
                        (not below and not above):
                    ok = True
                    break
            hit[i] = ok
        return hit

    def _publish(self, new_v: int, man: dict) -> None:
        """THE commit: make ``_log/<new_v>.json`` exist atomically,
        failing if the version was claimed by a concurrent writer.
        One backend call: ``put_if_absent`` — atomic full-object
        create-if-absent, never exposing a torn manifest (local disk:
        tmp + link; object stores, per LAKEHOUSE.md: S3 ``PUT
        If-None-Match: *``, GCS ``ifGenerationMatch=0``, ADLS
        ``If-None-Match: *``)."""
        import json as _json

        try:
            self._backend.put_if_absent(self._manifest_path(new_v),
                                        _json.dumps(man).encode())
        except FileExistsError:
            raise _CommitRace(new_v) from None
        self._mcache[new_v] = man

    def _finalize(self, new_v: int, man: dict, stage: str | None) -> None:
        """Publish, cleaning up this writer's staged files on a lost
        race (the table is untouched — only OUR uncommitted files go)."""
        try:
            self._publish(new_v, man)
        except _CommitRace:
            if stage:
                self._backend.delete_prefix(stage)
            raise

    def _txn(self, wait: bool, body):
        """Run one writer transaction, optimistically: on a lost
        conditional PUT, wait=True re-runs the body against the new
        head (each body re-reads the current snapshot and its
        constraints, so the result equals a serial replay); wait=False
        raises :class:`ConcurrentMergeError` with the table untouched."""
        while True:
            try:
                return body()
            except _CommitRace:
                if not wait:
                    raise ConcurrentMergeError(
                        f"another writer committed to {self.root} "
                        "concurrently; retry (see class docstring "
                        "recipe) or call with wait=True to re-derive "
                        "against the new head"
                    ) from None

    def _check_not_fenced(self, parent_v: int) -> None:
        """Refuse a commit on top of a fence record. Called from EVERY
        commit tail — including metadata-only and DV-only commits that
        never stage data files. The fence IS the head, and every
        commit resolves its parent from the head inside the
        transaction — so a late writer (even one that derived its
        batch before the fence landed) is refused here, or loses the
        conditional PUT to the fence record and is refused on the
        wait=True retry. No commit can land after a fence."""
        if parent_v >= 1 and \
                self._manifest(parent_v).get("operation") == "fence":
            raise TableFencedError(
                f"table at {self.root} is fenced (sealed at "
                f"v{parent_v} by failover promotion); writes must "
                "go to the promoted replica"
            )

    def _stage_dir(self, new_v: int) -> str:
        """Where this commit's NEW data files go: a fresh
        ``_data/tx-<id>`` directory (never reused, so racing writers
        cannot collide and a crashed attempt is inert until vacuum
        sweeps it)."""
        import os
        import uuid

        self._check_not_fenced(new_v - 1)
        return os.path.join(self.root, "_data", f"tx-{uuid.uuid4().hex[:12]}")

    # ---- CHECK constraints (Delta ADD CONSTRAINT shape) -------------
    #
    # The constraint set is table metadata carried in every manifest
    # (like ``clustered_by``), and add/drop are metadata-only commits
    # through the log — so constraint admin is ordered against data
    # commits by the same conditional PUT: a writer whose batch was
    # checked against an older set loses the race to the constraint
    # commit and re-derives against the new set.
    #
    # Enforcement costs ZERO extra passes: the violation counters ride
    # the snapshot-write job itself via DataFrame.observe, and a
    # violated commit is aborted AFTER the write but BEFORE the
    # manifest create — MVCC means readers never saw the bad snapshot
    # and the table is bit-unchanged. Carried-forward (untouched)
    # files are never revalidated: they passed when written, and
    # add_constraint validates the whole table once — sound by
    # induction.

    def _constraints_at(self, version: int) -> dict[str, str]:
        if version < 1:
            return {}
        return dict(self._manifest(version).get("constraints") or {})

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints (the head's), name → SQL expression."""
        return self._constraints_at(self.current_version())

    def _constraint_commit(self, op: str, wait: bool, change) -> int:
        """Metadata-only commit of a new constraint set: ``change``
        maps (head version, head set) to the new set, or None when the
        head already has it."""
        from pyspark.sql.types import StructType

        def body() -> int:
            head = self.current_version()
            if head < 1:
                raise ValueError(
                    f"{op} on an empty table at {self.root} "
                    "(no committed version)")
            cons = change(head, self._constraints_at(head))
            if cons is None:
                return head
            schema = StructType.fromJson(self._manifest(head)["schema"])
            return self._commit_carrying(
                None, self._file_keys(head), head, schema, op,
                constraints=cons)

        return self._txn(wait, body)

    def add_constraint(self, name: str, sql_expr: str,
                       wait: bool = True) -> int:
        """Add a CHECK constraint (SQL boolean over the table's
        columns; NULL passes, as in SQL CHECK). The head is validated
        first — one scan — and the add is refused if any row violates;
        afterwards every commit's written rows are checked inside the
        write job and a violating commit aborts cleanly
        (:class:`ConstraintViolationError`) without becoming visible.
        The add is itself a commit: if a data commit lands between the
        validation scan and the add's publish, the add re-validates
        against the new head. Returns the committed version."""

        def change(head: int, cons: dict):
            if cons.get(name) == sql_expr:
                return None
            bad = self._scan(head).filter(
                F.expr(sql_expr) == F.lit(False)
            ).limit(1).count()
            if bad:
                raise ConstraintViolationError(
                    f"existing rows violate CHECK {name!r}: {sql_expr}"
                )
            cons[name] = sql_expr
            return cons

        return self._constraint_commit("add_constraint", wait, change)

    def drop_constraint(self, name: str, wait: bool = True) -> int:
        """Drop a CHECK constraint (a metadata-only commit; a no-op
        when the head has no constraint of that name)."""

        def change(head: int, cons: dict):
            if name not in cons:
                return None
            del cons[name]
            return cons

        return self._constraint_commit("drop_constraint", wait, change)

    def _attach_constraint_obs(self, df: DataFrame, parent_v: int):
        """Ride violation counters on the write job (no extra scan),
        for the constraints of the version this commit builds on."""
        cons = self._constraints_at(parent_v)
        if not cons:
            return df, None, {}
        from pyspark.sql import Observation

        obs = Observation()
        aggs = [
            F.sum(
                F.when(F.expr(cons[n]) == F.lit(False), 1).otherwise(0)
            ).alias(f"viol_{i}")
            for i, n in enumerate(sorted(cons))
        ]
        return df.observe(obs, *aggs), obs, cons

    def _enforce_constraints(self, obs, cons: dict, stage: str) -> None:
        """After the data write, before the manifest create: discard
        the staged files and raise if any constraint counted a
        violation — the commit never becomes visible."""
        if obs is None:
            return
        got = obs.get
        bad = [
            (n, cons[n])
            for i, n in enumerate(sorted(cons))
            if (got.get(f"viol_{i}") or 0) > 0
        ]
        if bad:
            self._backend.delete_prefix(stage)
            raise ConstraintViolationError(
                "commit aborted before the manifest create — written "
                f"rows violate CHECK constraint(s): {bad}"
            )

    # ---- writing + manifest assembly --------------------------------

    def _write_new_files(self, df: DataFrame,
                         new_v: int | None = None) -> tuple[str, dict]:
        """Spark-write ``df`` into this commit's staging location and
        return ``(stage_dir, {relkey: zone map})`` for the NEW files —
        footer stats are collected for new files only (carried files
        inherit their manifest entry verbatim), so per-commit stats
        cost is proportional to written data, not table size.
        ``new_v`` is the version this commit will claim — callers pin
        it to (version-the-content-derives-from + 1), never a fresh
        head sample (see _commit)."""
        import os

        if new_v is None:
            new_v = self.current_version() + 1
        stage = self._stage_dir(new_v)
        df2, obs, cons = self._attach_constraint_obs(df, new_v - 1)
        writer = df2.write.mode("errorifexists")
        if self._parts:
            writer = writer.partitionBy(*self._parts)
        writer.parquet(stage)
        self._enforce_constraints(obs, cons, stage)
        prefix = os.path.relpath(stage, self.root) + "/"
        entries: dict[str, dict] = {}
        schema = df.schema
        for full in self._backend.walk_files(stage):
            if not full.endswith(".parquet"):
                continue
            rel_in = os.path.relpath(full, stage)
            zm = self._file_zone_map(full)
            # on-disk size rides the manifest entry so compaction
            # can bin-pack by TARGET SIZE without listing files
            zm["bytes"] = os.path.getsize(full)
            zm["cols"].update(self._partition_zone_map(rel_in, schema))
            entries[prefix + rel_in] = zm
        return stage, entries

    def _assemble_manifest(self, new_v: int, op: str, schema,
                           parent_v: int, keep_rels, entries: dict,
                           new_dv: dict | None = None,
                           cluster: tuple | None = None,
                           constraints: dict | None = None) -> dict:
        """Build commit ``new_v``'s record from the CARRIED key list
        (``keep_rels`` — always a subset of the parent's files) plus
        the NEW file entries. Deletion vectors carry forward from the
        parent for exactly the files still referenced (a rewritten or
        dropped file purges its DV — the Delta DV lifecycle), then
        merge any freshly recorded positions. Table metadata
        (``clustered_by``, ``constraints``) carries from the parent
        unless this commit sets it.

        Delta records are assembled from parent KEYS ONLY (the lazy
        keys-only resolve — VERDICT r9 next-1): a non-checkpoint
        commit never materializes the parent's zone maps, so commit
        metadata cost is O(changed files) even at 1M-file scale; the
        full materialization happens only on the every-Nth checkpoint
        commit, where writing the full listing is the point."""
        import time as _time
        from urllib.parse import unquote

        keep_rels = list(keep_rels)
        fileset = set(keep_rels) | set(entries)
        dv: dict = {}
        if parent_v >= 1:
            parent = self._manifest(parent_v)
            for k, ps in (parent.get("dv") or {}).items():
                if unquote(k) in fileset:
                    # sidecar refs carry AS REFS — zero position I/O
                    dv[k] = ps if isinstance(ps, dict) else list(ps)
        for k, ps in (new_dv or {}).items():
            if isinstance(ps, dict):
                # pre-merged {ref,off,n} from the executor-side DV
                # build (r11): the sidecar segment already unions this
                # file's carried positions — replace wholesale. Safe
                # across a rebase: _rebase_safe refuses any interleave
                # that touched a DV on a file this DML read.
                dv[k] = ps
                continue
            cur = self._dv_positions(dv[k]) if k in dv else []
            dv[k] = sorted(set(cur) | set(ps))
        rec = {
            "format": 2,
            "version": new_v,
            "operation": op,
            "committed_at_unix": round(_time.time(), 3),
            "base": "root",
            "schema": schema.jsonValue(),
            "dv": dv,
            "n_files": len(fileset),
        }
        # clustering INTENT (VERDICT r10 next-7): set by a whole-table
        # compact(zorder_by=...), carried forward by every later
        # commit (like schema — small, full in every record). The
        # maintenance plan measures the layout's ACTUAL zone overlap
        # against this declared intent; DML churn decays the layout
        # silently otherwise.
        spec = (list(cluster) if cluster is not None
                else ((self._manifest(parent_v).get("clustered_by"))
                      if parent_v >= 1 else None))
        if spec:
            rec["clustered_by"] = spec
        cons = (constraints if constraints is not None
                else self._constraints_at(parent_v))
        if cons:
            rec["constraints"] = dict(cons)
        # delta vs full: O(changed files) per commit, with a full
        # checkpoint every _CHECKPOINT_EVERY commits bounding the
        # reader's resolution walk (schema and DV stay full in every
        # record — both are small)
        parent_chain = (self._manifest(parent_v).get("chain", 0)
                        if parent_v >= 1 else 0)
        if keep_rels and parent_chain + 1 < self._CHECKPOINT_EVERY:
            rec["chain"] = parent_chain + 1
            rec["delta_of"] = parent_v
            rec["added"] = dict(entries)
            rec["removed"] = sorted(
                k for k in self._file_keys(parent_v) if k not in fileset
            )
        else:
            rec["chain"] = 0
            if keep_rels and len(fileset) > self._CKPT_INLINE_MAX:
                # checkpoint BUILD by columnar carry (VERDICT r10
                # next-1): the parent sidecar is filtered/unioned with
                # Arrow kernels, never materialized as per-file dicts
                rec["ckpt"] = self._carry_checkpoint(new_v, parent_v,
                                                     keep_rels, entries)
            else:
                pfiles = self._files(parent_v) if keep_rels else {}
                files = {r: pfiles[r] for r in keep_rels}
                files.update(entries)
                rec["files"] = files
        # NOTE: _fcache is only populated on demand AFTER a successful
        # publish — a writer that loses the commit race must not poison
        # the resolver cache for a version someone else committed
        return self._externalize_dv(new_v, rec)

    def _commit(self, df: DataFrame, op: str = "merge",
                parent_v: int | None = None,
                cluster: tuple | None = None) -> int:
        """Full-rewrite commit: every referenced file is newly written
        (parent DVs purge naturally — no parent file survives).

        ``parent_v`` MUST be the version the caller's content was
        derived from (the body's head sample). Re-sampling the head
        here instead would open a lost-update window: a commit
        landing between the body's read and this publish would shift
        new_v past the collision, and the conditional PUT
        — the only coordination point — would succeed with content
        that silently drops the concurrent commit's rows (caught by
        tests/test_storage_faults.py stale-LIST injection). Pinning
        new_v = parent_v + 1 turns that interleaving into a
        _CommitRace, which wait=True re-derives."""
        if parent_v is None:
            parent_v = self.current_version()
        new_v = parent_v + 1
        stage, entries = self._write_new_files(df, new_v=new_v)
        man = self._externalize_files(
            new_v, self._assemble_manifest(new_v, op, df.schema,
                                           parent_v, [], entries,
                                           cluster=cluster))
        # decoded BEFORE the publish: a refused index stops the commit
        bloom = self.file_index(parent_v)
        self._finalize(new_v, man, stage)
        self._carry_bloom(bloom, new_v, set(entries))
        return new_v

    def _commit_carrying(self, out_df, keep_rels, old_v: int, schema,
                         op: str, new_dv: dict | None = None,
                         rebase=None, cluster: tuple | None = None,
                         constraints: dict | None = None) -> int:
        """Shared partial-rewrite tail (pruned merges, DML, compaction,
        metadata commits): Spark-write the rewritten rows (if any),
        carry ``keep_rels`` forward by manifest reference (zero I/O)
        and commit. ``out_df`` None is a METADATA-ONLY commit: no Spark
        job runs at all.

        ``rebase`` (VERDICT r9 next-3): logical conflict
        detection for a lost conditional PUT. The DML bodies pass
        ``(read_rels, ranges, point)`` — the files they actually
        SCANNED and their predicate. When the publish loses the race,
        the interleaved commits are diffed against that read/touch
        set: if every interleaved commit removed/DV'd nothing we read
        and added nothing the predicate can match (zone-proved), the
        already-computed result is REBASED — re-keyed against the new
        head and re-published — instead of recomputed; a true overlap
        raises _CommitRace and wait=True re-derives as before (the
        Delta logical-conflict-detection design). Commit throughput
        under disjoint concurrent writers is then bounded by metadata
        cost, not recompute cost."""
        new_v = old_v + 1
        self._check_not_fenced(old_v)
        if out_df is not None:
            stage, entries = self._write_new_files(out_df, new_v=new_v)
        else:
            entries = {}
            stage = None
        keep_rels = list(keep_rels)
        # what this commit REMOVES from its parent — invariant across
        # rebases (keep_rels is parent-subset by construction)
        removed_by_us = set(self._file_keys(old_v)) - set(keep_rels)
        bloom = self.file_index(old_v)
        while True:
            man = self._externalize_files(
                new_v, self._assemble_manifest(new_v, op, schema, old_v,
                                               keep_rels, entries,
                                               new_dv=new_dv,
                                               cluster=cluster,
                                               constraints=constraints))
            try:
                self._publish(new_v, man)
                break
            except _CommitRace:
                head = self.current_version()
                if (rebase is None or head <= old_v or
                        not self._rebase_safe(old_v, head, *rebase)):
                    if stage:
                        self._backend.delete_prefix(stage)
                    raise _CommitRace(new_v) from None
                # disjoint: re-key the computed result onto the head —
                # the interleave's effect is exactly what serial
                # replay would leave, with ZERO recompute (a loser's
                # orphaned sidecars age out via vacuum's grace sweep)
                keep_rels = [r for r in self._file_keys(head)
                             if r not in removed_by_us]
                bloom = self.file_index(head)
                old_v = head
                new_v = head + 1
        self._carry_bloom(bloom, new_v, set(keep_rels) | set(entries))
        return new_v

    def _rebase_safe(self, old_v: int, head: int, read_rels,
                     ranges: dict | None = None,
                     point: tuple | None = None) -> bool:
        """True when every commit in (old_v, head] is LOGICALLY
        DISJOINT from a DML that scanned ``read_rels`` under the given
        predicate: it removed/rewrote none of those files, touched no
        deletion vector on them, changed no schema and no CHECK
        constraint (the computed rows were checked against the old set
        only), and every file it ADDED provably contains no matching
        row (zone maps — the same conservative test the skipping plane
        uses; an unprovable add is a conflict, never a silent
        rebase)."""
        from urllib.parse import unquote

        from pyspark.sql.types import StructType

        read_set = set(read_rels)

        def norm_schema(v: int):
            # nullability-normalized: DML commits record the relaxed
            # read schema while merges record the writer's — the same
            # physical schema either way (see _to_nullable)
            return self._to_nullable(
                StructType.fromJson(self._manifest(v)["schema"])
            ).jsonValue()

        base_schema = norm_schema(old_v)
        base_cons = self._constraints_at(old_v)
        for c in range(old_v + 1, head + 1):
            man = self._manifest(c)
            if norm_schema(c) != base_schema or \
                    self._constraints_at(c) != base_cons:
                return False
            prev_dv = self._manifest(c - 1).get("dv") or {}
            cur_dv = man.get("dv") or {}
            for k in set(prev_dv) | set(cur_dv):
                if prev_dv.get(k) != cur_dv.get(k) and \
                        unquote(k) in read_set:
                    return False
            if "delta_of" in man and man.get("delta_of") == c - 1:
                if any(r in read_set for r in man.get("removed", ())):
                    return False
                added = man.get("added", {})
                for zm in added.values():
                    if not self._added_provably_misses(zm, ranges,
                                                       point):
                        return False
            else:
                # full-record commit (checkpoint / restore / rewrite):
                # diff key sets lazily, evaluate added files' zones
                # through the columnar plane
                prev_keys = set(self._file_keys(c - 1))
                cur_set = set(self._file_keys(c))
                if any(r in read_set for r in prev_keys
                       if r not in cur_set):
                    return False
                added_set = cur_set - prev_keys
                if added_set and not self._added_set_misses(
                        c, added_set, ranges, point):
                    return False
        return True

    def _added_provably_misses(self, zm: dict, ranges, point) -> bool:
        """One added file's zone map vs the DML predicate: True only
        when NO row of the file can match (keep/hit test False)."""
        if ranges is not None:
            return not self._range_keep(zm, ranges)
        col, vals = point
        z = zm["cols"].get(col)
        if not z:
            return False
        if z.get("all_null"):
            return True
        for x in vals:
            nx = self._stat_norm(x)
            if nx is None:
                return False
            below = self._stat_lt(nx, z["min"])
            above = self._stat_lt(z["max"], nx)
            if below is None or above is None or \
                    (not below and not above):
                return False
        return True

    def _added_set_misses(self, version: int, added_set: set,
                          ranges, point) -> bool:
        cols = list(ranges) if ranges is not None else [point[0]]
        keys, _, _, za = self._zone_arrays(version, cols,
                                           with_rows=False)
        if ranges is not None:
            mask, _ = self._mask_range(za, len(keys), ranges, False)
        else:
            col, vals = point
            norm = [self._stat_norm(x) for x in vals]
            if any(x is None for x in norm):
                return False
            mask = self._mask_point(za, len(keys), col, norm)
        keys = self._seq_list(keys)
        return not any(m for k, m in zip(keys, mask) if k in added_set)

    def _rel_partition_dir(self, rel: str) -> str:
        """The leaf-partition directory path of a manifest key
        (``_data/tx-<id>/p1=a/p2=b/part-*.parquet`` → ``p1=a/p2=b``)."""
        import os

        return os.path.dirname(rel.split("/", 2)[2])

    # ---- reading through the manifest -------------------------------

    def read(self, version: int | None = None,
             timestamp=None) -> DataFrame | None:
        """The committed snapshot, or None before the first commit.

        ``version`` time-travels to an older retained snapshot (the
        lakehouse ``VERSION AS OF`` read): manifests and the files
        they reference are immutable, so any version vacuum has not
        removed is readable forever. Raises if the requested version
        was vacuumed or never committed.

        ``timestamp`` is the ``TIMESTAMP AS OF`` twin (mutually
        exclusive with ``version``): the snapshot in force at that
        wall-clock instant, resolved via :meth:`version_at_timestamp`
        (Delta semantics — latest commit at-or-before the instant;
        raises before the earliest retained commit)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        v = self._resolve_version(version)
        if v == 0:
            return None
        return self._scan(v)

    @staticmethod
    def _ts_to_unix(ts) -> float:
        """Normalize a TIMESTAMP AS OF argument to unix seconds:
        int/float pass through; datetimes use ``.timestamp()`` (a
        NAIVE datetime is interpreted as UTC — deterministic across
        driver timezones, unlike the local-time default); ISO-8601
        strings parse via ``fromisoformat`` then follow the datetime
        rule."""
        import datetime as _dt

        if isinstance(ts, bool):
            raise TypeError(f"unsupported timestamp type: {type(ts)}")
        if isinstance(ts, (int, float)):
            return float(ts)
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.date) and not isinstance(ts, _dt.datetime):
            # a bare date is midnight UTC — symmetric with the
            # ISO-date string form ('2026-08-16')
            ts = _dt.datetime(ts.year, ts.month, ts.day)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            return ts.timestamp()
        raise TypeError(f"unsupported timestamp type: {type(ts)}")

    def version_at_timestamp(self, ts) -> int:
        """The ``TIMESTAMP AS OF`` resolution (Delta semantics): the
        LATEST retained version whose commit wall time is at or before
        ``ts``. An instant at/after the head's commit resolves to the
        head (the table as it stands); an instant before the earliest
        retained commit raises — the snapshot in force then is
        unknowable once vacuum removed it, and silently clamping
        forward would hand back rows that did not exist at ``ts``.
        Accepts unix seconds, ``datetime`` (naive = UTC), or an
        ISO-8601 string. Driver-side cost: one small manifest read per
        retained version (the :meth:`history` walk), never data."""
        unix = self._ts_to_unix(ts)
        best = None
        earliest = None
        for h in self.history():           # newest first
            at = h.get("committed_at_unix")
            if at is None:
                continue                    # pre-wall-time manifest
            earliest = (h["version"], at)
            if at <= unix and best is None:
                best = h["version"]
        if best is not None:
            return best
        if earliest is None:
            raise ValueError(
                f"version_at_timestamp: table at {self.root} has no "
                "committed version yet"
            )
        raise ValueError(
            f"timestamp {unix} precedes the earliest retained commit "
            f"(version {earliest[0]} at {earliest[1]}); older "
            "snapshots were vacuumed or never existed"
        )

    def _resolve_version(self, version: int | None) -> int:
        """Validate an explicit time-travel version against the
        committed range and the retention window (the read() contract,
        shared by count_where/dv_density — ADVICE r8: an explicit
        version used to hit a raw FileNotFoundError there). Returns
        the resolved version (0 = empty table, only when ``version``
        is None)."""
        import os

        v = self.current_version()
        if version is None:
            return v
        if not 1 <= version <= v:
            raise ValueError(
                f"version {version} not committed (current: {v})"
            )
        if not self._backend.exists(self._manifest_path(version)):
            raise ValueError(
                f"version {version} was vacuumed (oldest retained "
                "version is discoverable via history())"
            )
        return version

    # ---- SQL addressing (VERDICT r8 next-3) -------------------------
    #
    # The reference's stage 3 is a SQL-first query surface (app.py:
    # 195-210 serves SELECTs over the loaded store); a 100 TB
    # deployment's consumers are spark.sql sessions, not Python
    # handles. These two methods register the manifest-resolved
    # planes into the session catalog so `spark.sql` reaches the
    # lakehouse — current head, VERSION AS OF, and DESCRIBE HISTORY.

    def to_view(self, name: str, version: int | None = None,
                timestamp=None):
        """Register the snapshot as a temp view and return its
        DataFrame — ``spark.sql(f"SELECT ... FROM {name}")`` then
        queries the manifest-resolved file list (zone maps, DV
        anti-join and all). ``version`` pins a retained older
        snapshot: the ``VERSION AS OF`` read; ``timestamp`` is the
        ``TIMESTAMP AS OF`` twin (see :meth:`version_at_timestamp`).
        The view is a SNAPSHOT PIN — the file list froze at
        registration (manifests are immutable), so later commits
        don't leak in; re-register to follow the head. Raises on an
        empty table (no schema to expose) and on a
        vacuumed/uncommitted version, same contract as
        :meth:`read`."""
        df = self.read(version=version, timestamp=timestamp)
        if df is None:
            raise ValueError(
                f"to_view({name!r}): table at {self.root} has no "
                "committed version yet"
            )
        df.createOrReplaceTempView(name)
        return df

    def snapshots(self):
        """The retained commit history as a DataFrame (the DESCRIBE
        HISTORY / TVF shape): version, operation, commit wall time,
        file count — registerable via ``.createOrReplaceTempView`` for
        pure-SQL retention dashboards. Driver-side cost is one small
        manifest read per retained version (never data)."""
        from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                       StringType, StructField, StructType)

        schema = StructType([
            StructField("version", LongType(), False),
            StructField("operation", StringType(), True),
            StructField("committed_at_unix", DoubleType(), True),
            StructField("n_files", IntegerType(), True),
        ])
        return self.spark.createDataFrame(
            [(int(h["version"]), h["operation"],
              h.get("committed_at_unix"), h.get("n_files"))
             for h in self.history()],
            schema,
        )

    @staticmethod
    def _base_uri_candidates(base: str) -> list[str]:
        """The prefixes ``_metadata.file_path`` can carry for files
        under ``base``, each ending in '/': Hadoop's ``file:/abs``
        rendering (raw and percent-escaped), ``file:///abs``, and the
        bare path. Used for ANCHORED relative-path derivation — a
        prefix match at position 0 cannot be fooled by a root
        directory or partition value that CONTAINS the marker text
        (ADVICE r7: the old last-occurrence ``substring_index`` on
        ``/v=<n>/`` mis-keyed DVs for such layouts)."""
        import os
        from pathlib import Path

        b = os.path.abspath(base)
        out = ["file:" + b + "/", b + "/"]
        try:
            u = Path(b).as_uri()            # file:///abs, %-escaped
            out.append(u + "/")
            out.append("file:" + u[len("file://"):] + "/")
        except ValueError:
            pass
        seen: list[str] = []
        for x in out:
            if x not in seen:
                seen.append(x)
        return seen

    def _rel_expr(self, base: str, prefix: str):
        """Column expression: the manifest key of the file a row came
        from, in the scan's own URI escaping — ``prefix`` + the path
        relative to ``base``, derived by anchored prefix-strip."""
        import os

        fp = F.col("_metadata.file_path")
        expr = None
        big = F.lit(1 << 30)
        for cand in self._base_uri_candidates(base):
            cond = fp.startswith(cand)
            piece = F.concat(F.lit(prefix),
                             F.substring(fp, F.lit(len(cand) + 1), big))
            expr = F.when(cond, piece) if expr is None else \
                expr.when(cond, piece)
        # defensive fallback (never expected to fire): the r7 behavior
        marker = "/" + os.path.basename(base) + "/"
        return expr.otherwise(
            F.concat(F.lit(prefix), F.substring_index(fp, marker, -1))
        )

    @classmethod
    def _to_nullable(cls, dt):
        """File sources relax every field to nullable; the manifest
        stores the writer's schema verbatim, so reads (including the
        zero-file empty frame) normalize the same way for schema
        equality across paths."""
        from pyspark.sql.types import ArrayType, MapType, StructField, StructType

        if isinstance(dt, StructType):
            return StructType([
                StructField(f.name, cls._to_nullable(f.dataType), True,
                            f.metadata)
                for f in dt.fields
            ])
        if isinstance(dt, ArrayType):
            return ArrayType(cls._to_nullable(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(cls._to_nullable(dt.keyType),
                           cls._to_nullable(dt.valueType), True)
        return dt

    def _scan(self, version: int, relkeys=None,
              keep_pos: bool = False) -> DataFrame:
        """Manifest-resolved snapshot scan: read exactly the listed
        files (optionally a subset), under the commit's saved schema,
        with deletion vectors anti-joined out. With ``keep_pos`` the
        (manifest key, row position) columns stay visible as
        ``_file_rel``/``_row_pos`` (DV-building scans need them).
        When the snapshot has no DV and positions aren't requested,
        the plan is a bare parquet scan — no join, no extra columns
        (plan-asserted by tests/test_upsert.py)."""
        import os

        from pyspark.sql.types import StructType

        from urllib.parse import unquote

        man = self._manifest(version)
        schema = self._to_nullable(StructType.fromJson(man["schema"]))
        # a whole-snapshot scan needs KEYS only — with a parquet
        # checkpoint that's a single-column read, no zone-map parse
        sel = (self._file_keys(version) if relkeys is None
               else sorted(relkeys))
        dv = man.get("dv") or {}
        if not sel:
            df = self.spark.createDataFrame([], schema)
            if keep_pos:
                df = df.withColumn(
                    "_file_rel", F.lit(None).cast("string")
                ).withColumn("_row_pos", F.lit(None).cast("long"))
            return df
        # the DV anti-join taxes ONLY the files that actually carry a
        # deletion vector: the selection splits into a clean branch
        # (bare scan, zero join, zero metadata work) and a DV branch
        # (raw-file-path anti-join), so merge-on-read read cost is
        # proportional to DV'd files, not table size
        dv_fs = {unquote(k) for k in dv}
        dv_sel = [r for r in sel if r in dv_fs]
        clean_sel = [r for r in sel if r not in dv_fs]

        def _by_group(rels):
            """Group manifest keys by physical base directory: one
            group per referencing commit's tx dir (bounded by retained
            history; compaction collapses it)."""
            groups: dict[str, list[str]] = {}
            for rel in rels:
                groups.setdefault(
                    "/".join(rel.split("/", 2)[:2]), []
                ).append(rel)
            return sorted(groups.items())

        def _read_part(rels, with_fp):
            parts: list[DataFrame] = []
            for top, grels in _by_group(rels):
                base = os.path.join(self.root, top)
                prefix = top + "/"
                paths = [os.path.join(base, r.split("/", 2)[2])
                         for r in grels]
                g = (
                    self.spark.read.schema(schema)
                    .option("basePath", base)
                    .parquet(*paths)
                )
                # metadata must materialize per-scan (before unions);
                # the derived _file_rel (an anchored-strip when-chain)
                # is computed only for keep_pos consumers, which scan
                # bounded file subsets
                if with_fp or keep_pos:
                    g = g.withColumn(
                        "_row_pos", F.col("_metadata.row_index")
                    )
                if with_fp:
                    g = g.withColumn("_fp", F.col("_metadata.file_path"))
                if keep_pos:
                    g = g.withColumn(
                        "_file_rel", self._rel_expr(base, prefix)
                    )
                parts.append(g)
            df = parts[0]
            for g in parts[1:]:
                df = df.unionByName(g)
            return df

        out: DataFrame | None = None
        if clean_sel:
            out = _read_part(clean_sel, with_fp=False)
        if dv_sel:
            dvp = _read_part(dv_sel, with_fp=True)
            # two broadcast joins, both cheap: (1) a TINY path→id map
            # (DV'd files × candidate URI renderings of their group
            # base — exactly one matches, the rest are inert) resolves
            # each row's file to an int id off the raw metadata path,
            # no per-row string derivation; (2) the position list
            # anti-joins on (id, pos) INT pairs — built through
            # pandas/Arrow, because 10k+ Python tuples through the
            # pickle createDataFrame path cost seconds per query
            import pandas as pd

            key_ids = {k: i for i, k in enumerate(sorted(dv))}
            path_rows = []
            for relkey, i in key_ids.items():
                base = os.path.join(
                    self.root, "/".join(relkey.split("/", 2)[:2]))
                suffix = relkey.split("/", 2)[2]
                for cand in self._base_uri_candidates(base):
                    path_rows.append((cand + suffix, i))
            id_df = self.spark.createDataFrame(
                path_rows, "_dv_path string, _dv_id long"
            )
            pos_lists = {k: self._dv_positions(dv[k]) for k in key_ids}
            pos_df = self.spark.createDataFrame(pd.DataFrame(
                {
                    "_dv_id2": [i for k, i in key_ids.items()
                                for _ in pos_lists[k]],
                    "_dv_pos": [int(p) for k in key_ids
                                for p in pos_lists[k]],
                }
            ))
            dvp = dvp.join(
                F.broadcast(id_df), dvp["_fp"] == id_df["_dv_path"],
                "left",
            ).drop("_dv_path", "_fp")
            # every row in this branch comes from a DV'd file, so the
            # id MUST resolve; an unmatched rendering would silently
            # skip the anti-join and RESURRECT deleted rows — fail the
            # query loudly instead (defense against an unanticipated
            # Hadoop URI style outside _base_uri_candidates)
            dvp = dvp.withColumn(
                "_dv_id",
                F.when(
                    F.col("_dv_id").isNull(),
                    F.raise_error(F.lit(
                        "deletion-vector file-path rendering unmatched "
                        "by _base_uri_candidates — DV cannot be "
                        "applied; refusing to return deleted rows"
                    )).cast("long"),
                ).otherwise(F.col("_dv_id")),
            )
            dvp = dvp.join(
                F.broadcast(pos_df),
                (dvp["_dv_id"] == pos_df["_dv_id2"])
                & (dvp["_row_pos"] == pos_df["_dv_pos"]),
                "left_anti",
            ).drop("_dv_id")
            if not keep_pos:
                dvp = dvp.drop("_row_pos")
            out = dvp if out is None else out.unionByName(dvp)
        return out

    def _boundary_scan(self, version: int, relkeys) -> DataFrame:
        """The scan fallback for files metadata alone cannot decide —
        a separate hook so tests can assert a metadata-only operation
        runs NO scan at all."""
        return self._scan(version, relkeys=relkeys)

    # ---- file-level zone maps (data skipping) ----------------------
    #
    # Every commit records per-file column min/max/null-count zone
    # maps in its manifest — the same file-statistics design
    # Delta/Iceberg keep in their transaction logs (Iceberg spec
    # "Manifests: value counts / lower and upper bounds"). read_where()
    # then prunes the file list DRIVER-SIDE from pure metadata before
    # Spark ever opens a footer: on a 100 TB table a narrow predicate
    # over a clustered column (ZORDER, ingestion time, monotone key)
    # touches a handful of files instead of every footer in the scan's
    # listing. Collection is metadata-only (parquet footers, no data
    # pages) and INCREMENTAL: carried-forward files inherit their
    # manifest entry without reopening the footer, so the per-commit
    # cost is proportional to NEW files (touched partitions), matching
    # the pruned-merge write cost — not table size.

    @staticmethod
    def _stat_norm(v):
        """Normalize a stats bound (or a read_where() probe value) into
        the JSON-storable, order-comparable plane: numbers stay numbers,
        strings stay strings, temporals become KIND-TAGGED pairs —
        ``["tsu", iso]`` for tz-aware datetimes (converted to UTC;
        parquet TIMESTAMP with isAdjustedToUTC), ``["tsn", iso]`` for
        naive wall-clock datetimes (TIMESTAMP_NTZ), ``["d", iso]`` for
        dates — with microsecond-padded fixed-width ISO so lexicographic
        order equals time order. The kind tag exists so an aware bound
        is NEVER compared against a naive probe (different planes; a
        cross-plane compare could wrongly skip a matching file — see
        :meth:`read_where`'s kind check). Returns None for types with
        no stable order here (bool, bytes, decimals, nested) — those
        columns simply carry no zone map, which is always safe."""
        import datetime as _dt

        if isinstance(v, bool) or v is None:
            return None  # bool zone maps prune nothing useful; skip
        if isinstance(v, (int, float, str)):
            return v
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                return ["tsu", v.astimezone(_dt.timezone.utc)
                        .strftime("%Y-%m-%dT%H:%M:%S.%f")]
            return ["tsn", v.strftime("%Y-%m-%dT%H:%M:%S.%f")]
        if isinstance(v, _dt.date):
            return ["d", v.isoformat()]
        return None

    @staticmethod
    def _stat_lt(a, b):
        """``a < b`` on the normalized stats plane, or None when the
        two values are not provably comparable (different kinds, or a
        numeric/string type clash) — the caller treats None as "cannot
        prune", never as an ordering."""
        ka, va = (a[0], a[1]) if isinstance(a, (list, tuple)) else (
            "num" if isinstance(a, (int, float)) else "str", a)
        kb, vb = (b[0], b[1]) if isinstance(b, (list, tuple)) else (
            "num" if isinstance(b, (int, float)) else "str", b)
        if ka != kb:
            return None
        try:
            return va < vb
        except TypeError:
            return None

    def _file_zone_map(self, path: str) -> dict:
        """One parquet file's footer rolled up to a file-level manifest
        entry ``{"rows": n, "cols": {col: zone}}`` where a zone is
        ``{"min": x, "max": x, "nulls": n} | {"all_null": true} | {}``
        ({} = column present but unbounded — statistics missing or an
        unsupported type; such a column never prunes this file).
        ``rows`` + exact ``nulls`` enable METADATA-ONLY counting
        (:meth:`count_where`). Reads the footer only, no data pages."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        out: dict[str, dict] = {}
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaf — no scalar order
                    continue
                cur = out.setdefault(name, {"min": None, "max": None,
                                            "all_null": True, "ok": True,
                                            "nulls": 0})
                st = col.statistics
                if st is not None and st.null_count is not None:
                    if cur["nulls"] is not None:
                        cur["nulls"] += st.null_count
                else:
                    cur["nulls"] = None  # unknown null count
                if not cur["ok"]:
                    continue
                n_vals = rg.num_rows
                if st is not None and st.null_count is not None and \
                        st.null_count == n_vals:
                    continue  # this row group is all-NULL for the column
                cur["all_null"] = False
                if st is None or not st.has_min_max:
                    cur["ok"] = False
                    continue
                try:
                    raw_lo, raw_hi = st.min, st.max
                except NotImplementedError:
                    # pyarrow cannot CAST this type's footer stats
                    # (decimal et al. raise ArrowNotImplementedError,
                    # a NotImplementedError subclass) — before r12 this
                    # crashed the whole merge commit. Such a column is
                    # simply unbounded, exactly like missing stats.
                    cur["ok"] = False
                    continue
                lo, hi = self._stat_norm(raw_lo), self._stat_norm(raw_hi)
                if lo is None or hi is None:
                    cur["ok"] = False
                    continue
                cur["min"] = lo if cur["min"] is None else min(cur["min"], lo)
                cur["max"] = hi if cur["max"] is None else max(cur["max"], hi)
        cols: dict[str, dict] = {}
        for name, cur in out.items():
            if cur["all_null"]:
                cols[name] = {"all_null": True}
            elif cur["ok"] and cur["min"] is not None:
                z = {"min": cur["min"], "max": cur["max"]}
                if cur["nulls"] is not None:
                    z["nulls"] = cur["nulls"]
                cols[name] = z
            else:
                cols[name] = {}
        return {"rows": md.num_rows, "cols": cols}

    _PCT = _re.compile("%([0-9A-Fa-f]{2})")

    def _partition_zone_map(self, relpath: str, schema) -> dict:
        """Zone maps contributed by the file's partition DIRECTORY
        names (partition values live in paths, not footers): min ==
        max == the unescaped, schema-typed value, so partition pruning
        falls out of the same overlap test as data-column skipping —
        one zone per partition LEVEL for multi-column partitioning.
        Only string and integral partition types get a zone map — any
        other type's path rendering is not guaranteed to match the
        probe's normalization, and a wrong bound would prune
        incorrectly."""
        import os

        from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                       ShortType, StringType)

        if not self._parts or schema is None:
            return {}
        out: dict[str, dict] = {}
        comps = relpath.split(os.sep)[:-1]
        for part in self._parts:
            try:
                dtype = schema[part].dataType
            except KeyError:
                continue
            integral = isinstance(
                dtype, (ByteType, ShortType, IntegerType, LongType)
            )
            if not integral and not isinstance(dtype, StringType):
                continue
            for comp in comps:
                if not comp.startswith(f"{part}="):
                    continue
                raw = self._PCT.sub(lambda m: chr(int(m.group(1), 16)),
                                    comp[len(part) + 1:])
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    out[part] = {"all_null": True}
                    break
                v: object = raw
                if integral:
                    try:
                        v = int(raw)
                    except ValueError:
                        break
                n = self._stat_norm(v)
                if n is not None:
                    out[part] = {"min": n, "max": n, "nulls": 0}
                break
        return out

    def stats(self, version: int | None = None) -> dict | None:
        """The snapshot's file → zone-map index — the manifest's
        ``files`` section (None before the first commit or for a
        vacuumed version). Returns a DEEP copy: the resolved list is
        also the handle's pruning/DML/vacuum source of truth, and the
        nested per-file zone-map dicts would otherwise alias the
        resolver cache — a caller mutating ``stats()[rel]['cols']``
        must not corrupt the handle (ADVICE r8 asked for mutation
        safety; ADVICE r9 found the shallow copy still aliased the
        nested dicts)."""
        import copy

        v = version if version is not None else self.current_version()
        if v == 0 or not self._backend.exists(self._manifest_path(v)):
            return None
        return copy.deepcopy(self._files(v))

    def _range_keep(self, zm: dict, ranges: dict) -> bool:
        """True unless the zone maps PROVE no row in the file can
        satisfy every range (conjunctive BETWEEN semantics: NULL never
        matches, so an all-NULL zone is skippable). Kind-checked
        comparisons — a cross-plane probe (tz-aware vs naive, str vs
        num) is never ordered, hence never prunes."""
        cols = zm["cols"]
        for col, (lo, hi) in ranges.items():
            z = cols.get(col)
            if not z:  # absent or {} (unbounded): can't prune
                continue
            if z.get("all_null"):
                return False
            nlo, nhi = self._stat_norm(lo), self._stat_norm(hi)
            # a bound outside the stats plane (nlo/nhi None) simply
            # can't participate; the OTHER bound still prunes — the
            # per-bound handling _mask_range uses (r10 review: the two
            # twins used to disagree here, a whole-column skip vs
            # per-bound, giving rebase different verdicts for the same
            # interleave depending on commit shape)
            if nlo is not None and self._stat_lt(z["max"], nlo):
                return False
            if nhi is not None and self._stat_lt(nhi, z["min"]):
                return False
        return True

    def _range_contained(self, zm: dict, ranges: dict) -> bool:
        """True when the zone maps PROVE every row in the file
        satisfies every range: bounds inside [lo, hi] on the normalized
        plane AND an exact zero null count (NULL fails BETWEEN, so an
        unknown null count blocks containment)."""
        cols = zm["cols"]
        for col, (lo, hi) in ranges.items():
            z = cols.get(col)
            if not z or z.get("all_null") or z.get("nulls") != 0:
                return False
            nlo, nhi = self._stat_norm(lo), self._stat_norm(hi)
            if lo is not None and (nlo is None or
                                   self._stat_lt(z["min"], nlo) is not False):
                return False
            if hi is not None and (nhi is None or
                                   self._stat_lt(nhi, z["max"]) is not False):
                return False
        return True

    def _range_residual(self, ranges: dict):
        residual = None
        for col, (lo, hi) in ranges.items():
            c = F.col(col)
            for bound, cmp in ((lo, c >= F.lit(lo)), (hi, c <= F.lit(hi))):
                if bound is not None:
                    residual = cmp if residual is None else residual & cmp
        return residual

    # ---- deletion vectors (merge-on-read DELETE) --------------------
    #
    # The manifest's ``dv`` section maps file key → sorted deleted ROW
    # POSITIONS (``_metadata.row_index``); the file key is the
    # URI-form manifest key ``_file_rel`` yields (stable across reads,
    # self-consistent for the anti-join — the fs-form differs for
    # Hive-escaped partition dirs, handled by unquote at carry-forward
    # time). Readers anti-join (file, pos) against the broadcast DV —
    # zero overhead when no DV exists. DVs are carried forward for
    # still-referenced files at every commit and purged naturally when
    # a file is rewritten (compact / CoW paths), the Delta
    # deletion-vector lifecycle.

    def deletion_vectors(self, version: int | None = None) -> dict:
        """file key → sorted deleted row positions ({} when none)."""
        import os

        v = version if version is not None else self.current_version()
        if v == 0 or not self._backend.exists(self._manifest_path(v)):
            return {}
        return {k: self._dv_positions(e)
                for k, e in (self._manifest(v).get("dv") or {}).items()}

    def read_where(self, ranges: dict, version: int | None = None
                   ) -> DataFrame | None:
        """Data-skipping read: ``ranges`` maps column → ``(lo, hi)``
        (either side None for one-sided), conjunctive. Files whose zone
        maps prove no row can satisfy every range are dropped from the
        scan DRIVER-SIDE — zero Spark jobs, zero footer opens for
        skipped files; the residual filter is still applied, so the
        result is always exactly ``read().filter(...)`` and skipping is
        purely a scan-cost optimization (a file without stats for a
        column is conservatively kept). Range semantics are SQL
        BETWEEN: NULL never matches, hence all-NULL zones are skipped.
        Composes with ``compact(zorder_by=...)``: z-ordered files carry
        bounded rectangles on both z columns, so narrow predicates on
        either column reduce to a handful of files."""
        v = self._resolve_version(version)
        if v == 0:
            return None
        residual = self._range_residual(ranges)
        # LAZY skipping resolve (VERDICT r9 next-1): only the predicate
        # columns' zone arrays leave the checkpoint — never a full
        # zone-map materialization
        keys, _, _, za = self._zone_arrays(v, list(ranges),
                                           with_rows=False)
        keep, _ = self._mask_range(za, len(keys), ranges, False)
        kept = self._keys_where(keys, keep)
        pruned = self._scan(v, relkeys=kept)
        return pruned.filter(residual) if residual is not None else pruned

    def count_where(self, ranges: dict, version: int | None = None
                    ) -> int | None:
        """METADATA-ONLY counting where the manifest allows it (the
        Delta "answer from file statistics" pattern): files the zone
        maps prove FULLY inside every range (including a zero null
        count) contribute their footer row counts with no scan; files
        proven outside contribute nothing; only boundary files are
        scanned with the residual filter. Always equals
        ``read_where(ranges).count()`` — a fully-clustered probe runs
        zero Spark jobs."""
        v = self._resolve_version(version)
        if v == 0:
            return None
        residual = self._range_residual(ranges)
        from urllib.parse import unquote

        man = self._manifest(v)
        # deleted-but-unpurged rows come off the footer counts (their
        # match status is irrelevant — they are deleted either way)
        dv_fs = {unquote(k): self._dv_count(ps)
                 for k, ps in (man.get("dv") or {}).items()}
        meta_rows = 0
        boundary: list[str] = []
        # lazy columnar classification (VERDICT r9 next-1): keys and
        # rows materialize per KEPT file only — O(kept), not O(files)
        keys, rows, _, za = self._zone_arrays(v, list(ranges))
        keep, cont = self._mask_range(za, len(keys), ranges, True)
        for i, kp in enumerate(keep):
            if not kp:
                continue
            rel = self._seq_get(keys, i)
            r = self._seq_get(rows, i)
            if r is not None and cont[i]:
                meta_rows += r - dv_fs.get(rel, 0)
            else:
                boundary.append(rel)
        boundary.sort()
        if not boundary:
            return meta_rows
        scan = self._boundary_scan(v, boundary)
        if residual is not None:
            scan = scan.filter(residual)
        return meta_rows + scan.count()

    def minmax_where(self, col: str, ranges: dict | None = None,
                     version: int | None = None) -> dict | None:
        """Exact ``MIN(col)/MAX(col)`` over the (optionally filtered)
        snapshot, answered from file statistics where the manifest
        allows it — :meth:`count_where`'s twin for the other
        metadata-answerable aggregate class. A file the zone maps
        prove FULLY inside every range, carrying NO deletion vector,
        with usable zone bounds on ``col``, contributes its zone
        min/max with no scan (exact per file: zone bounds are the
        file's true non-null extremes, and SQL MIN/MAX ignore NULLs);
        an all-null-on-``col`` contained file contributes nothing;
        everything else — boundary files, DV'd files, files without
        ``col`` stats — is scanned with the residual filter. Always
        equals ``read_where(ranges).agg(min(col), max(col))``; the
        ``SELECT MAX(event_ts)`` watermark-discovery probe on a
        time-clustered 100 TB table runs zero Spark jobs. Returns
        ``{"min": ..., "max": ...}`` (both None on an empty match) or
        None on an empty table. TimestampType extremes come back
        tz-aware in UTC whether metadata- or scan-contributed (the
        scan side is re-anchored via :meth:`_scan_stat_norm` — ADVICE
        r11); TIMESTAMP_NTZ stays naive; decimal/boolean/binary
        columns (no stats plane) are answered purely by scan."""
        ranges = dict(ranges or {})
        v = self._resolve_version(version)
        if v == 0:
            return None
        residual = self._range_residual(ranges)
        from urllib.parse import unquote

        man = self._manifest(v)
        dv_fs = {unquote(k) for k in (man.get("dv") or {})}
        cols = sorted(set(ranges) | {col})
        keys, _, _, za = self._zone_arrays(v, cols, with_rows=False)
        keep, cont = self._mask_range(za, len(keys), ranges, True)
        blank = [None] * len(keep)
        mins, maxs, _, ans = za.get(col, (blank, blank, blank, blank))
        lo = hi = None
        boundary: list[str] = []
        for i, kp in enumerate(keep):
            if not kp:
                continue
            rel = self._seq_get(keys, i)
            if cont[i] and rel not in dv_fs:
                if ans[i] is True:
                    continue            # contained but all-null: no values
                if ans[i] is False and mins[i] is not None:
                    m, x = mins[i], maxs[i]
                    lo = m if lo is None or m < lo else lo
                    hi = x if hi is None or x > hi else hi
                    continue
            boundary.append(rel)
        boundary.sort()
        if boundary:
            scan = self._boundary_scan(v, boundary)
            if residual is not None:
                scan = scan.filter(residual)
            dtype = scan.schema[col].dataType
            r = scan.agg(F.min(F.col(col)).alias("mn"),
                         F.max(F.col(col)).alias("mx")).first()
            if r.mn is not None:
                m = self._scan_stat_norm(r.mn, dtype)
                lo = m if lo is None or m < lo else lo
            if r.mx is not None:
                x = self._scan_stat_norm(r.mx, dtype)
                hi = x if hi is None or x > hi else hi
        return {"min": self._stat_denorm(lo),
                "max": self._stat_denorm(hi)}

    @staticmethod
    def _scan_stat_norm(v, dtype):
        """:meth:`_stat_norm` for a value COLLECTED from a Spark scan
        (ADVICE r11). Two collection-plane mismatches corrected here:

        * TimestampType collects as a NAIVE datetime in the driver's
          system timezone (PySpark fromInternal), while that column's
          zone-map bounds are tagged tz-aware (``tsu``) — raw
          normalization would tag the scan side ``tsn`` and the list
          comparison would then order by the KIND tag ("tsn" < "tsu"
          always), silently taking every MIN from the scan and no MAX.
          Re-attach the system zone and convert to UTC so both planes
          carry ``tsu`` (and the returned temporal is consistently
          aware-UTC, matching the zone-contributed case).
        * Types outside the stats plane (decimal/boolean/binary)
          normalize to None; such columns never carry zone bounds, so
          EVERY file is a boundary file and the scanned extremes stand
          alone — return them raw (they pass through
          :meth:`_stat_denorm` unchanged) instead of erasing them.
        """
        import datetime as _dt

        from pyspark.sql.types import TimestampType

        if (isinstance(dtype, TimestampType)
                and isinstance(v, _dt.datetime) and v.tzinfo is None):
            v = v.astimezone(_dt.timezone.utc)
        n = ParquetMergeTable._stat_norm(v)
        return v if n is None else n

    @staticmethod
    def _stat_denorm(v):
        """Inverse of :meth:`_stat_norm` for RETURNING an aggregate to
        the caller: kind-tagged temporal pairs become python temporals
        again (``tsu`` → tz-aware UTC datetime, ``tsn`` → naive
        datetime, ``d`` → date); numbers and strings pass through."""
        import datetime as _dt

        if (isinstance(v, (list, tuple)) and len(v) == 2
                and v[0] in ("tsu", "tsn", "d")):
            kind, iso = v
            if kind == "d":
                return _dt.date.fromisoformat(iso)
            out = _dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%f")
            return (out.replace(tzinfo=_dt.timezone.utc)
                    if kind == "tsu" else out)
        return v

    def read_point(self, col: str, values, version: int | None = None
                   ) -> DataFrame | None:
        """IN-list point lookup with file skipping: keeps a file only
        if SOME probe value lands inside the column's zone (the
        key-lookup shape — a streaming join probing a zordered dim
        table touches one file per key instead of the table). Result
        always equals ``read().filter(col.isin(values))``; NULL probes
        are dropped (SQL IN never matches NULL)."""
        df = self.read(version=version)
        if df is None:
            return None
        v = version if version is not None else self.current_version()
        vals = [x for x in values if x is not None]
        if not vals:
            return self.spark.createDataFrame([], df.schema)
        kept = self._point_prune(col, vals, v)
        return self._scan(v, relkeys=kept).filter(F.col(col).isin(vals))

    def _point_prune(self, col: str, vals: list, v: int) -> list[str]:
        """Driver-side file pruning for an IN-list probe: zone maps
        first (the LAZY columnar plane — one column's arrays, never a
        full zone-map materialization), then the per-file Bloom index
        when one exists for the column (shared by read_point and
        delete_keys — zero Spark jobs)."""
        norm = [self._stat_norm(x) for x in vals]
        keys, _, _, za = self._zone_arrays(v, [col], with_rows=False)
        if any(x is None for x in norm):
            # an unnormalizable probe defeats zone pruning entirely
            # (mirrors the dict twin's keep-on-unnormalizable)
            hit = [True] * len(keys)
            # ... except for all-null zones, which no IN probe matches
            t = za.get(col)
            if t is not None:
                hit = [not an if an else True for an in t[3]]
        else:
            hit = self._mask_point(za, len(keys), col, norm)
        kept = self._keys_where(keys, hit)
        # bloom index (if built for this column): a file survives only
        # if SOME probe value might be present — the unclustered-column
        # pruning zone maps cannot provide. Pure driver-side, no jobs.
        bloom = self.file_index(v).get(col)
        # the bloom contract covers str/int probes only (build-time
        # type validation, ADVICE r7): any other probe type (float,
        # bool, date) may render differently than Spark's CAST did at
        # build time, and a false-negative probe would DROP rows — so
        # such probes skip the bloom and fall back to zone maps alone
        if bloom and any(isinstance(x, bool) or
                         not isinstance(x, (str, int)) for x in vals):
            bloom = None
        if bloom:
            from urllib.parse import unquote

            by_fs = {unquote(k): e for k, e in bloom.items()}
            kept = [
                rel for rel in kept
                if rel not in by_fs  # unindexed file: keep (new since build)
                or any(self._bloom_might_contain(by_fs[rel], x) for x in vals)
            ]
        return kept

    # ---- per-file Bloom index (point lookups on UNCLUSTERED cols) ---
    #
    # Zone maps prune range probes on CLUSTERED columns; a point lookup
    # on a high-cardinality unclustered column (user_id in a
    # time-partitioned table) overlaps every file's [min,max] and
    # prunes nothing. The Delta answer is a per-file Bloom filter
    # index: build_file_index() computes one bitset per file in a
    # single distributed pass, read_point() then drops files whose
    # bloom proves no probe value present. Hashing is md5-based so the
    # driver can probe in pure Python with ZERO Spark jobs — the same
    # engine-stable discipline the oracle twins use. The index lives
    # in ``_log/<n>.bloom.json``, carried forward for still-referenced
    # files at every commit and dropped for rewritten ones (stale bits
    # are never consulted).

    _BLOOM_K = 7  # hash functions; with m = 10 bits/row, FPR ≈ 1%

    @staticmethod
    def _bloom_m(rows: int, bits_per_row: int = 10) -> int:
        m = max(64, rows * bits_per_row)
        return (m + 63) // 64 * 64

    @staticmethod
    def _bloom_h12(s: str) -> tuple[int, int]:
        """Python twin of the Spark-side md5 hash pair (32-bit each)."""
        import hashlib

        h1 = int(hashlib.md5(("bf1|" + s).encode()).hexdigest()[:8], 16)
        h2 = int(hashlib.md5(("bf2|" + s).encode()).hexdigest()[:8], 16) | 1
        return h1, h2

    def _bloom_bin_file(self, version: int) -> str:
        import os

        return os.path.join(self._log_dir(), f"{version}.bloom.bin")

    @staticmethod
    def _words_to_blob(m: int, words: dict) -> bytes:
        """Pack a sparse {word_idx: 64-bit int} dict into the dense
        little-endian bitset (bit b lives at byte b>>3, bit b&7 —
        byte-compatible with the per-word layout since 8·(b//64) +
        (b%64)//8 == b//8)."""
        out = bytearray(m // 8)
        for w, bits in words.items():
            out[8 * int(w):8 * int(w) + 8] = int(bits).to_bytes(8, "little")
        return bytes(out)

    def file_index(self, version: int | None = None) -> dict:
        """col → {file key → {"m": bits, "blob": dense bitset bytes}}
        ({} if none). On disk the index is a compact pair —
        ``<v>.bloom.json`` holds per-file (m, offset, length) and
        ``<v>.bloom.bin`` holds the concatenated raw bitsets
        (~1.25 B/row at 10 bits/row, VERDICT r7 next-3; the r7 JSON
        word encoding cost ~4.6 B/row). One bin read materializes
        every blob."""
        import json as _json

        v = version if version is not None else self.current_version()
        if v == 0 or not self._backend.exists(self._bloom_file(v)):
            return {}
        data = _json.loads(self._backend.get(self._bloom_file(v)))
        if "cols" not in data:
            raise self._retired(v, "pre-packed Bloom 'words' JSON index")
        bin_ = self._backend.get(self._bloom_bin_file(v))
        return {
            col: {
                k: {"m": e["m"], "blob": bin_[e["off"]:e["off"] + e["len"]]}
                for k, e in files.items()
            }
            for col, files in data["cols"].items()
        }

    @staticmethod
    def _bloom_indexable(dtype) -> bool:
        """string/integral ONLY (enforced, ADVICE r7): the driver-side
        probe hashes Python's str(value) while the index hashes
        Spark's CAST-to-string rendering — identical for strings and
        integers, but divergent for bool ('True' vs 'true'), float
        ('1e-07' vs '1.0E-7'), date/timestamp. A divergent rendering
        would be a FALSE-NEGATIVE bloom probe: read_point silently
        dropping matching rows."""
        from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                       ShortType, StringType)

        return isinstance(dtype, (StringType, ByteType, ShortType,
                                  IntegerType, LongType))

    def _bloom_build_entries(self, version: int, col: str,
                             relkeys=None,
                             bits_per_row: int = 10) -> dict:
        """The shared builder core: Bloom entries for ``col`` over the
        given files (None = whole snapshot) in one distributed pass —
        k md5 buckets per row, 64-bit words bit_or-combined per
        (file, word), sparse words collected; driver memory ∝ set
        bits. Cost is proportional to the SCANNED files, which is what
        makes per-commit incremental maintenance (added files only)
        cheap (VERDICT r9 next-2)."""
        df = self._scan(version, relkeys=relkeys, keep_pos=True).select(
            F.col(col).cast("string").alias("_s"), "_file_rel"
        )
        df = df.filter(F.col("_s").isNotNull())
        # per-file m from LIVE row counts, keyed in the scan's own
        # URI form (no re-derivation of Spark's path escaping)
        counts = df.groupBy("_file_rel").count().collect()
        if not counts:
            return self._bloom_sentinels({}, relkeys)
        m_by_file = {
            r._file_rel: self._bloom_m(int(r["count"]), bits_per_row)
            for r in counts
        }
        m_df = self.spark.createDataFrame(
            list(m_by_file.items()), "_file_rel string, _m long"
        )
        h1 = F.conv(
            F.substring(F.md5(F.concat(F.lit("bf1|"), F.col("_s"))), 1, 8),
            16, 10,
        ).cast("long")
        h2 = F.conv(
            F.substring(F.md5(F.concat(F.lit("bf2|"), F.col("_s"))), 1, 8),
            16, 10,
        ).cast("long").bitwiseOR(F.lit(1))
        k = self._BLOOM_K
        buckets = (
            df.join(F.broadcast(m_df), "_file_rel")
            .select(
                "_file_rel",
                F.explode(
                    F.array(*[
                        F.pmod(h1 + F.lit(i) * h2, F.col("_m"))
                        for i in range(k)
                    ])
                ).alias("_b"),
            )
        )
        words = (
            buckets.groupBy(
                "_file_rel", (F.col("_b") / 64).cast("long").alias("_w")
            )
            .agg(
                F.bit_or(
                    F.expr("shiftleft(1L, cast(pmod(_b, 64) as int))")
                ).alias("_bits")
            )
            .collect()
        )
        sparse: dict[str, dict] = {}
        mask = (1 << 64) - 1
        for r in words:
            e = sparse.setdefault(r._file_rel, {})
            e[int(r._w)] = int(r._bits) & mask
        out = {
            k: {"m": m_by_file[k],
                "blob": self._words_to_blob(m_by_file[k], ws)}
            for k, ws in sparse.items()
        }
        return self._bloom_sentinels(out, relkeys)

    @staticmethod
    def _bloom_sentinels(out: dict, relkeys) -> dict:
        """For an incremental build (``relkeys`` given), record an
        ``m=0`` sentinel for every requested file that yielded ZERO
        non-null values (all-NULL column, or fully DV'd): files are
        immutable, so no IN probe can ever match such a file —
        `_bloom_might_contain` prunes it outright — and without the
        sentinel `_carry_bloom`'s added-files diff would re-launch a
        scan over it on EVERY subsequent commit, forever. Sentinels
        are keyed in fs form (unquote is the identity there); the
        corner where a raw path itself contains '%' makes the carry
        drop the sentinel and re-scan once more — unpruned, never
        wrong."""
        if relkeys is None:
            return out
        from urllib.parse import unquote

        covered = {unquote(k) for k in out}
        for rel in relkeys:
            if rel not in covered:
                out[rel] = {"m": 0, "blob": b""}
        return out

    def build_file_index(self, col: str, bits_per_row: int = 10) -> None:
        """Build the per-file Bloom index for ``col`` over the CURRENT
        snapshot (string/integral columns — the value is hashed via its
        CAST-to-string rendering, which Python reproduces exactly).
        One distributed pass (see _bloom_build_entries); a 100 TB
        deployment shards this per partition. After the build the
        index MAINTAINS ITSELF: every commit carries surviving files'
        bits and indexes its ADDED files incrementally (VERDICT r9
        next-2 — no full rebuild under churn).

        Lock-free: the index is idempotent per-version metadata, last
        writer wins (see _write_bloom)."""
        v = self.current_version()
        if v == 0:
            raise ValueError("index on an empty table")
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(self._manifest(v)["schema"])
        dtype = schema[col].dataType
        if not self._bloom_indexable(dtype):
            raise TypeError(
                f"build_file_index({col!r}): column type "
                f"{dtype.simpleString()} has no engine-stable "
                "string rendering shared by Spark's CAST and "
                "Python's str() — only string and integral "
                "columns are indexable (a mismatched rendering "
                "would silently drop rows from read_point)"
            )
        index = self._bloom_build_entries(v, col,
                                          bits_per_row=bits_per_row)
        if not index:
            raise ValueError("no rows to index")
        full = self.file_index(v)
        full[col] = index
        self._write_bloom(v, full)

    def _write_bloom(self, version: int, full: dict) -> None:
        """Persist the packed index pair: the raw concatenated bitsets
        (``.bloom.bin``), then the JSON meta referencing them — each an
        atomic backend ``put``, bin BEFORE json so a reader never
        resolves an offset into a missing blob (the index is
        idempotent metadata, last writer wins — index builds are a
        single-admin op)."""
        import json as _json

        bin_ = bytearray()
        meta: dict = {"cols": {}}
        for col, files in full.items():
            centry = {}
            for k, e in sorted(files.items()):
                off = len(bin_)
                bin_ += e["blob"]
                centry[k] = {"m": e["m"], "off": off, "len": len(e["blob"])}
            meta["cols"][col] = centry
        self._backend.put(self._bloom_bin_file(version), bytes(bin_))
        self._backend.put(self._bloom_file(version),
                          _json.dumps(meta).encode())

    def _bloom_might_contain(self, entry: dict, value) -> bool:
        """Driver-side probe of one file's bloom — pure Python, no
        Spark job. True = cannot rule the value out."""
        m = entry.get("m")
        if m == 0:
            # build-time sentinel: the file held zero non-null values
            # in the column (files are immutable) — no probe matches
            return False
        if not m:
            return True
        h1, h2 = self._bloom_h12(str(value))
        blob = entry["blob"]
        for i in range(self._BLOOM_K):
            b = (h1 + i * h2) % m
            if not (blob[b >> 3] >> (b & 7)) & 1:
                return False
        return True

    def _carry_bloom(self, parent: dict, new_v: int,
                     fileset: set) -> None:
        """Maintain the parent's Bloom index (``parent``, decoded by
        the committer before its publish) across a commit: carry
        surviving files' bits (same key → same bytes), drop rewritten
        files' stale bits, and index the commit's ADDED files with one
        bounded Spark job, so the index never decays toward
        full-candidate scans under normal churn and a full-table
        rebuild is never needed. Incremental cost ∝ added files — the
        same proportionality as the commit's own write. Runs AFTER the
        manifest create; the incremental job is BEST-EFFORT (a failure
        leaves added files unindexed, which read_point treats as
        candidates — correct, just less pruned; ``maintenance_plan``
        reports the coverage gap). A column dropped or retyped by
        schema evolution loses its index (its rendering contract no
        longer holds)."""
        from urllib.parse import unquote

        if not parent:
            return
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(self._manifest(new_v)["schema"])
        kept: dict[str, dict] = {}
        for col, files in parent.items():
            try:
                indexable = self._bloom_indexable(schema[col].dataType)
            except KeyError:
                indexable = False
            if not indexable:
                continue        # dropped/retyped column: index dies
            surviving = {
                k: e for k, e in files.items()
                if unquote(k) in fileset
            }
            added = sorted(
                fileset - {unquote(k) for k in files}
            )
            if added:
                try:
                    surviving.update(
                        self._bloom_build_entries(new_v, col,
                                                  relkeys=added))
                except Exception as ex:  # noqa: BLE001 — maintenance
                    # is advisory; unindexed = candidate
                    _log.warning(
                        "%s: Bloom index of column %r not extended to "
                        "the files added at version %d: %r",
                        self.root, col, new_v, ex, exc_info=True)
            if surviving:
                kept[col] = surviving
        if kept:
            self._write_bloom(new_v, kept)

    def history(self) -> list[dict]:
        """Retained commit history, newest first (the DESCRIBE HISTORY
        analog): one dict per retained manifest — version, operation,
        commit wall time, referenced file count. Driver-side cost is
        one small JSON read per retained version (bounded by the
        vacuum retention window, never by data)."""
        import os

        out: list[dict] = []
        for n in range(self.current_version(), 0, -1):
            if not self._backend.exists(self._manifest_path(n)):
                continue  # vacuumed
            man = self._manifest(n)
            out.append({
                "version": man["version"],
                "operation": man["operation"],
                "committed_at_unix": man.get("committed_at_unix"),
                "n_files": man.get("n_files"),
            })
        return out

    def merge(self, incoming: DataFrame, delete_col: str | None = None,
              wait: bool = True, schema_evolution: bool = False) -> int:
        """MERGE: WHEN MATCHED THEN UPDATE (incoming row wins), WHEN NOT
        MATCHED THEN INSERT; rows where ``delete_col`` is true instead
        DELETE their key. Returns the committed snapshot version.

        With ``partition_by`` set, the rewrite is PARTITION-PRUNED:
        only partitions the batch touches are recomputed and written;
        untouched files come forward by manifest reference (zero I/O of
        any kind). That makes merge
        cost proportional to touched partitions, not table size —
        copy-on-write at partition granularity, the same strategy
        Delta/Iceberg CoW uses. The partition value of a key must be
        immutable across batches (standard lakehouse constraint; a key
        that changes partitions needs a delete+insert batch).

        Idempotent by construction: re-applying the same batch
        re-derives the same row set (the upsert replaces the same keys
        with the same rows; deletes of absent keys are no-ops) — proven
        by tests/test_upsert.py round-trip.

        ``wait``: after losing the commit race to a concurrent writer,
        re-derive the batch against the new head and retry
        (serial-replay semantics, including constraints committed in
        between). With ``wait=False`` raise
        :class:`ConcurrentMergeError` without touching the table.

        ``schema_evolution``: a batch whose columns differ from the
        table's commits the UNION of columns, NULL-filling either side
        (Delta's mergeSchema). Off by default so a malformed batch
        can't silently widen the table."""
        if delete_col is not None:
            deletes = incoming.filter(F.col(delete_col)).select(self.key)
            upserts = incoming.filter(~F.col(delete_col)).drop(delete_col)
        else:
            deletes = None
            upserts = incoming

        def body() -> int:
            # the current snapshot is resolved INSIDE the transaction —
            # a concurrently committed merge must be visible to this
            # one — and the head is sampled ONCE: content derivation
            # and the claimed version must come from the same sample
            # (see _commit's lost-update note)
            parent_v = self.current_version()
            current = self._scan(parent_v) if parent_v >= 1 else None
            if current is None:
                merged = upserts
            else:
                if self._parts:
                    return self._merge_pruned(
                        current, incoming, upserts, deletes, parent_v,
                        schema_evolution
                    )
                merged = merge_upsert(
                    current, upserts, self.key, allow_missing=schema_evolution
                )
            if deletes is not None:
                merged = merged.join(deletes, self.key, "left_anti")
            return self._commit(merged, parent_v=parent_v)

        return self._txn(wait, body)

    # Hive/Spark partition-path escape set (ExternalCatalogUtils.
    # charToEscape): C0 controls, DEL, and the listed specials —
    # escaped as %XX uppercase hex. Parity with Spark's writer is
    # pinned by tests/test_upsert.py::test_partition_dirname_fast_path
    # over a nasty-value corpus, so a Spark-side change fails CI.
    _PATH_ESCAPE = (
        {chr(c) for c in range(0x20)}
        | {chr(0x7F)}
        | set('"#%\'*/:=?\\{[]^')
    )

    @classmethod
    def _partition_dirname_fast(cls, part: str, value) -> str | None:
        """Driver-side rendering of ``part=<escaped>`` for the COMMON
        partition-key types (str/int/bool/None) — byte-identical to
        Spark's writer (see _PATH_ESCAPE). Returns None for any other
        type (float/date/timestamp), where the caller falls back to
        the Spark-probe write so rendering stays exact by
        construction."""
        if value is None:
            return f"{part}=__HIVE_DEFAULT_PARTITION__"
        if isinstance(value, bool):
            s = "true" if value else "false"
        elif isinstance(value, (int, str)):
            s = str(value)
        else:
            return None
        if s == "":
            # Hive treats the empty string as the default partition too
            return f"{part}=__HIVE_DEFAULT_PARTITION__"
        return f"{part}=" + "".join(
            f"%{ord(ch):02X}" if ch in cls._PATH_ESCAPE else ch for ch in s
        )

    def _spark_partition_dirnames(self, values, fields) -> set[str]:
        """The EXACT relative partition directory paths Spark renders
        for these partition-value TUPLES (``p1=a/p2=b`` for nested
        partitioning; plain ``p=a`` for one level). Common types
        (str/int/bool/NULL) render driver-side via the CI-pinned
        escapePathName port above — zero Spark jobs, the hot path for
        every merge. Any other value type falls back to having Spark
        itself write the names (one tiny job over ≤ partition-count
        rows), so NULL→``__HIVE_DEFAULT_PARTITION__``, Hive escaping,
        and exotic type rendering (float, date, timestamp) stay exact
        by construction (ADVICE r6)."""
        import os

        parts = self._parts
        fast: set[str | None] = set()
        for tup in values:
            levels = [self._partition_dirname_fast(p, v)
                      for p, v in zip(parts, tup)]
            fast.add(None if None in levels else os.sep.join(levels))
        if None not in fast:
            return fast  # type: ignore[return-value]
        import shutil
        import tempfile

        from pyspark.sql.types import StructField, StructType

        tmp = tempfile.mkdtemp(dir=self.root, prefix="_PARTNAMES.")
        probe_dir = os.path.join(tmp, "p")
        # nullable regardless of source schema: the probe may carry the
        # NULL partition value even when live rows never do
        schema = StructType(
            [StructField(f.name, f.dataType, True) for f in fields]
        )
        try:
            df = self.spark.createDataFrame([tuple(t) for t in values], schema)
            df.withColumn("_d", F.lit(1)).repartition(1).write.partitionBy(
                *parts
            ).parquet(probe_dir)
            out: set[str] = set()

            def rec(d: str, depth: int, rel: str) -> None:
                for e in os.listdir(d):
                    full = os.path.join(d, e)
                    if not os.path.isdir(full) or \
                            not e.startswith(f"{parts[depth]}="):
                        continue
                    r = os.path.join(rel, e) if rel else e
                    if depth == len(parts) - 1:
                        out.add(r)
                    else:
                        rec(full, depth + 1, r)

            rec(probe_dir, 0, "")
            return out
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _merge_pruned(self, current, incoming, upserts, deletes,
                      old_v: int, schema_evolution: bool = False) -> int:
        """Partition-pruned CoW: recompute touched partitions, carry
        the rest forward by reference. Runs inside _txn.

        Schema evolution composes with pruning because the manifest's
        schema governs reads: untouched partitions' carried files lack
        the new column and read back as NULL (parquet schema-merge
        semantics under an explicit read schema)."""
        parts = self._parts
        # touched partition-value tuples — bounded by partition count,
        # the same driver-side cardinality any partition-pruning
        # planner holds
        touched = {
            tuple(r) for r in incoming.select(*parts).distinct().collect()
        }
        cur_touched = current.filter(self._touched_cond(touched))
        merged = merge_upsert(
            cur_touched, upserts, self.key, allow_missing=schema_evolution
        )
        if deletes is not None:
            merged = merged.join(deletes, self.key, "left_anti")

        touched_dirs = self._spark_partition_dirnames(
            touched, [incoming.schema[p] for p in parts]
        )
        # Spark writes ONLY the touched partitions (merged carries no
        # untouched rows); partition pruning on the read side
        # (filter above) means untouched data was never scanned.
        keep_rels = [
            rel for rel in self._file_keys(old_v)
            if self._rel_partition_dir(rel) not in touched_dirs
        ]
        return self._commit_carrying(merged, keep_rels, old_v,
                                     merged.schema, "merge_pruned")

    def _touched_cond(self, touched: set[tuple]):
        """Row predicate selecting exactly the touched partition-value
        tuples, NULL-safe per level (isin() never matches NULL —
        ADVICE r6; a batch touching the NULL partition must pull
        existing NULL-partition rows or they'd vanish)."""
        parts = self._parts
        if len(parts) == 1:  # IN-set plan instead of an OR chain
            vals = [t[0] for t in touched]
            non_null = [v for v in vals if v is not None]
            cond = (F.col(parts[0]).isin(non_null) if non_null
                    else F.lit(False))
            if None in vals:
                cond = cond | F.col(parts[0]).isNull()
            return cond
        cond = F.lit(False)
        for tup in touched:
            c = F.lit(True)
            for p, v in zip(parts, tup):
                c = c & (F.col(p).isNull() if v is None
                         else F.col(p) == F.lit(v))
            cond = cond | c
        return cond

    def merge_with_retry(
        self, incoming: DataFrame, delete_col: str | None = None,
        schema_evolution: bool = False, attempts: int = 5,
        base_sleep: float = 0.05,
    ) -> int:
        """The class-docstring retry recipe as a method: optimistic
        ``merge(wait=False)`` with jittered exponential backoff.
        Unlike ``wait=True`` (queued / head-re-deriving), this is the
        pattern for callers that re-derive their batch from
        ``read()`` between attempts; here the batch is fixed, so a
        retry is just a later serial position. Raises the final
        :class:`ConcurrentMergeError` after ``attempts`` losses."""
        import random
        import time as _time

        for i in range(attempts):
            try:
                return self.merge(
                    incoming, delete_col=delete_col, wait=False,
                    schema_evolution=schema_evolution,
                )
            except ConcurrentMergeError:
                if i == attempts - 1:
                    raise
                _time.sleep(base_sleep * (2**i) * (0.5 + random.random()))
        raise AssertionError("unreachable")

    def changes_between(
        self, v_from: int, v_to: int | None = None,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two retained snapshots: every key
        classified inserted / deleted / updated / unchanged — Delta's
        CDF read, derived from the immutable versions via
        :func:`snapshot_diff` (no change log needed; cost is one
        full-outer join of the two snapshots, co-partitioned by key
        under bucketing). ``v_from=0`` is the empty pre-first-commit
        state, so ``changes_between(0, 1)`` classifies the insert-only
        first commit. ``compare_cols`` defaults to all shared non-key
        columns."""
        new = self.read(version=v_to) if v_to is not None else self.read()
        if new is None:
            # v_to=None on a never-committed table: there is no schema
            # to build even the empty v_from=0 frame from (ADVICE r9 —
            # this used to escape as AttributeError on new.schema)
            raise ValueError(
                f"changes_between on an empty table at {self.root} "
                "(no committed version)"
            )
        old = (self.spark.createDataFrame([], new.schema) if v_from == 0
               else self.read(version=v_from))
        if compare_cols is None:
            shared = [c for c in old.columns if c in set(new.columns)]
            compare_cols = [c for c in shared if c != self.key]
        return snapshot_diff(old, new, self.key, compare_cols)

    # ---- change feed as a STREAM (r10) -------------------------------
    #
    # changes_between diffs two whole snapshots — right for ad-hoc
    # "what moved this week", wrong as a per-commit feed at 100 TB
    # (every call is a full-outer join of two full tables). The feed
    # path is three pieces, each with public precedent:
    #   changes_at(v)     one commit's CDF derived from the MANIFEST
    #                     DELTA — only files whose (presence, DV state)
    #                     differs between v-1 and v are read, so cost
    #                     is O(commit churn), Delta's CDF economics;
    #   export_changes()  materializes unexported versions' change
    #                     rows to parquet under _cdf/ (Delta's
    #                     _change_data directory);
    #   stream_changes()  a STANDARD Structured Streaming file source
    #                     over _cdf/ — checkpointed, exactly-once per
    #                     file, no custom source needed.

    def _cdf_dir(self) -> str:
        import os

        return os.path.join(self.root, "_cdf")

    def _cdf_marker(self, version: int) -> str:
        import os

        return os.path.join(self._cdf_dir(), "_exported",
                            f"{version}.json")

    def _feed_marker(self, version: int) -> dict | None:
        """Decode ``version``'s export marker; None when it is absent
        or unreadable (a torn claim write). A FINALIZED marker records
        the export-time schema (every finalize has since r11) — one
        without it is refused."""
        import json as _json

        try:
            rec = _json.loads(self._backend.get(self._cdf_marker(version)))
        except (OSError, ValueError):
            return None
        if rec.get("files") and "schema" not in rec:
            raise self._retired(
                version, "change-feed marker without a schema (pre-r11)")
        return rec

    def _churn_scans(self, v: int) -> tuple[DataFrame, DataFrame]:
        """The (old-side, new-side) scans of exactly the files commit
        ``v`` CHURNED — added, removed, rewritten, or DV-moved; files
        carried forward with an identical deletion-vector state hold
        byte-identical rows on both sides and are excluded from both.
        The shared kernel behind :meth:`changes_at` (full-outer diff)
        and :meth:`fingerprint_delta` (abelian hash movement): both
        cost O(commit churn), never the table. ``v`` and its parent
        must be retained (``v=1`` diffs against the empty state)."""
        from pyspark.sql.types import StructType

        man = self._manifest(v)
        if v == 1:
            schema = self._to_nullable(StructType.fromJson(man["schema"]))
            return self.spark.createDataFrame([], schema), self._scan(v)
        self._resolve_version(v - 1)   # raises if parent vacuumed
        from urllib.parse import unquote

        # the dv section keys files in URI form; _file_keys is
        # fs-form — bridge with unquote like every other DV
        # consumer (_scan, _assemble_manifest), else a DV change
        # on a Hive-escaped partition file reads as 'unchanged'
        # and its deletes silently vanish from the feed
        dv_old = {unquote(k): e for k, e in
                  (self._manifest(v - 1).get("dv") or {}).items()}
        dv_new = {unquote(k): e for k, e in
                  (man.get("dv") or {}).items()}
        keys_old = set(self._file_keys(v - 1))
        keys_new = set(self._file_keys(v))
        same = {k for k in keys_old & keys_new
                if dv_old.get(k) == dv_new.get(k)}
        return (self._scan(v - 1, relkeys=keys_old - same),
                self._scan(v, relkeys=keys_new - same))

    def fingerprint_delta(self, version: int,
                          cols: list[str] | None = None) -> dict:
        """How much one commit MOVED the table's content fingerprint:
        ``{rows_delta, hash_delta, cols}`` such that, exactly,

            content_fingerprint(v)  =  content_fingerprint(v-1)
                                       + fingerprint_delta(v)

        (integer addition on both fields — the fingerprint is an
        ABELIAN sum of per-row xxhash64, so churned-in rows add,
        churned-out rows subtract, and every carried file cancels
        without being read). Cost: two map-side-aggregated scans of
        ONLY the commit's churned files — O(commit churn), never the
        table. This is the audit primitive that keeps continuous
        replica verification affordable at 100 TB: full-scan
        ``content_fingerprint`` once at a base version, then fold
        per-commit deltas (each ~free at maintenance cadence) to know
        the primary's expected fingerprint at any later version; a
        pure-maintenance commit (compact, rezorder, checkpoint)
        deltas to exactly zero, test-pinned. ``cols`` must name
        columns present on BOTH sides (default: the shared set,
        sorted — a schema-change commit needs a fresh full-scan
        base)."""
        v = self._resolve_version(version)
        if v == 0:
            raise ValueError(
                f"fingerprint_delta on an empty table at {self.root}")
        old, new = self._churn_scans(v)
        if cols is None:
            cols = sorted(set(old.columns) & set(new.columns))

        def agg(df: DataFrame) -> tuple[int, int]:
            sig = F.xxhash64(F.concat(*[_sig_field(c) for c in cols]))
            r = (df.select(sig.alias("h"))
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
                 .first())
            return int(r.n), int(r.s if r.s is not None else 0)

        n_old, s_old = agg(old)
        n_new, s_new = agg(new)
        return {"rows_delta": n_new - n_old,
                "hash_delta": str(s_new - s_old),
                "cols": list(cols)}

    def fingerprint_fold(self, base_version: int, base: dict,
                         version: int) -> dict:
        """The fingerprint at ``version`` WITHOUT scanning the table:
        fold per-commit :meth:`fingerprint_delta` onto a full-scan
        ``content_fingerprint`` taken once at ``base_version``. Exact
        (integer arithmetic on the abelian sums, identity test-pinned
        per commit kind); total cost is the sum of the folded commits'
        churn — the continuous-audit path for a 100 TB primary, where
        re-scanning at every sync is the thing this exists to avoid.
        Every version in ``(base_version, version]`` must still be
        retained; a vacuumed parent raises (take a fresh base then)."""
        if version < base_version:
            raise ValueError(
                f"fingerprint_fold backwards: base {base_version} "
                f"> target {version}")
        rows = int(base["rows"])
        h = int(base["hash"])
        cols = list(base["cols"])
        for v in range(base_version + 1, version + 1):
            d = self.fingerprint_delta(v, cols=cols)
            rows += d["rows_delta"]
            h += int(d["hash_delta"])
        return {"rows": rows, "hash": str(h), "cols": cols}

    def changes_at(self, version: int,
                   compare_cols: list[str] | None = None) -> DataFrame:
        """One commit's change data feed: every row inserted, deleted
        or updated (post-image) by ``version``, with ``_change_type``
        and ``_commit_version`` columns. Equals
        ``changes_between(version-1, version)`` minus the unchanged
        class — asserted by tests — but reads ONLY the files the
        commit churned: a file carried forward with an identical
        deletion-vector state holds byte-identical rows on both sides,
        so only added/removed/rewritten files and files whose DV moved
        enter the diff. Cost is one full-outer join over the commit's
        churn, never the table. A pure-maintenance commit (compact,
        checkpoint rewrite) therefore diffs its rewritten files and
        yields zero rows. Both ``version`` and its parent must be
        retained (``version=1`` diffs against the empty state)."""
        v = self._resolve_version(version)
        if v == 0:
            raise ValueError(
                f"changes_at on an empty table at {self.root} "
                "(no committed version)"
            )
        old, new = self._churn_scans(v)
        shared = [c for c in old.columns if c in set(new.columns)]
        if compare_cols is None:
            compare_cols = [c for c in shared if c != self.key]

        def side(df: DataFrame, tag: str):
            # injective length-prefixed signature — same scheme as
            # snapshot_diff, so the twins agree and neither has the
            # embedded-separator blind spot (ADVICE r10)
            sig = (F.md5(F.concat(*[_sig_field(c)
                                    for c in compare_cols]))
                   if compare_cols else F.lit(""))
            return df.select(
                F.col(self.key).alias("_k"),
                F.struct(*[F.col(c) for c in shared]).alias(tag),
                sig.alias(tag + "_sig"),
                F.lit(True).alias(tag + "_p"),
            )

        j = side(old, "_old").join(side(new, "_new"), "_k", "full_outer")
        ct = (F.when(F.col("_old_p").isNull(), F.lit("inserted"))
              .when(F.col("_new_p").isNull(), F.lit("deleted"))
              .when(F.col("_old_sig") != F.col("_new_sig"),
                    F.lit("updated")))
        j = (j.select(ct.alias("_change_type"),
                      F.coalesce(F.col("_new"), F.col("_old"))
                      .alias("_row"))
             .filter(F.col("_change_type").isNotNull()))
        return j.select(
            *[F.col(f"_row.{c}").alias(c) for c in shared],
            "_change_type",
            F.lit(v).cast("long").alias("_commit_version"),
        )

    def export_changes(self, upto: int | None = None,
                       claim_grace_seconds: float = 3600.0
                       ) -> list[int]:
        """Materialize the change feed: for every retained, not-yet-
        exported version ≤ ``upto`` (default head) whose parent is
        derivable, write :meth:`changes_at` as parquet files under
        ``_cdf/`` and finalize a per-version marker. Returns the newly
        exported versions. A maintenance operation, same cadence as
        compact/vacuum (or called right after each commit for a
        low-latency feed).

        Concurrency and delivery contract: a version is CLAIMED via
        conditional PUT of its marker before any data file moves in —
        at most one exporter ever works a version; a concurrent
        exporter skips claimed versions, and an
        UNFINALIZED claim younger than ``claim_grace_seconds`` is an
        export in flight, never hijacked (vacuum's grace idiom —
        repairing a live claim would publish duplicate token sets).
        Files then appear one atomic rename at a time and the marker
        is finalized with the file list. Normal operation is
        exactly-once end-to-end (the file-stream consumer checkpoints
        per file); an exporter CRASH between claim and finalize leaves
        a partial export that ``export_changes`` repairs once the
        claim ages past the grace, re-exporting under a fresh token —
        a consumer may then see a crash-window row twice, the
        documented at-least-once corner every file-based CDC has.
        Downstream MERGE consumers are idempotent by
        ``(key, _commit_version)`` — the run_cdc_upsert_stream dedup
        pattern."""
        import json as _json
        import os
        import shutil
        import time as _time
        import uuid

        head = (self.current_version() if upto is None
                else self._resolve_version(upto))
        if head == 0:
            return []
        retained = {h["version"] for h in self.history()}
        done: list[int] = []
        for v in sorted(retained):
            if v > head:
                continue
            if v != 1 and (v - 1) not in retained:
                continue               # parent vacuumed: underivable
            marker = self._cdf_marker(v)
            token = uuid.uuid4().hex[:10]
            claim = {"version": v, "token": token, "files": None,
                     "claimed_at_unix": round(_time.time(), 3)}
            if self._backend.exists(marker):
                rec = self._feed_marker(v)
                if rec is None:
                    continue
                if rec.get("files") is not None:
                    continue           # finalized
                if _time.time() - rec.get("claimed_at_unix", 0) < \
                        claim_grace_seconds:
                    # a YOUNG unfinalized claim is an export in
                    # flight, not a crash — hijacking it would
                    # publish two token sets of the same version
                    # (duplicate feed rows). Same grace idiom as
                    # vacuum's stage_grace_seconds; pass 0 only when
                    # no other exporter can be live.
                    continue
                # crashed claim (grace-aged): sweep its partial files,
                # re-claim by full-object replace
                stale = rec.get("token", "")
                for fn in self._backend.list_names(self._cdf_dir()):
                    if fn.startswith(f"v{v:08d}-{stale}"):
                        self._backend.delete(
                            os.path.join(self._cdf_dir(), fn))
                self._backend.put(marker, _json.dumps(claim).encode())
            else:
                try:
                    self._backend.put_if_absent(
                        marker, _json.dumps(claim).encode())
                except FileExistsError:
                    continue           # another exporter claimed it
            stage = os.path.join(self._cdf_dir(), "_stage", token)
            self.changes_at(v).write.mode("overwrite").parquet(stage)
            moved: list[str] = []
            for i, fn in enumerate(sorted(
                    f for f in os.listdir(stage)
                    if f.endswith(".parquet"))):
                dest = os.path.join(self._cdf_dir(),
                                    f"v{v:08d}-{token}-{i}.parquet")
                os.replace(os.path.join(stage, fn), dest)
                moved.append(os.path.basename(dest))
            shutil.rmtree(stage, ignore_errors=True)
            # finalize ONLY if we still own the claim (ADVICE r10): a
            # second repairer past the grace window may have swept our
            # files and re-claimed; an unconditional finalize would
            # then reference a sibling token's files — and OUR files,
            # listed by no marker, would be read twice by every new
            # consumer, forever. On ownership loss: delete own files,
            # skip. The get→put pair is not atomic, so a vanishingly
            # interleaved double-finalize remains possible; the orphan
            # sweep below turns that residue into bounded-lifetime
            # litter instead of a permanent duplicate.
            cur = self._feed_marker(v)
            if not cur or cur.get("token") != token or \
                    cur.get("files") is not None:
                for fn in moved:
                    self._backend.delete(
                        os.path.join(self._cdf_dir(), fn))
                continue
            fin = dict(claim)
            fin["files"] = moved
            # export-time schema, recorded for feed-vs-head
            # compatibility checks in stream_changes (ADVICE r10)
            fin["schema"] = self._manifest(v)["schema"]
            fin["exported_at_unix"] = round(_time.time(), 3)
            self._backend.put(marker, _json.dumps(fin).encode())
            done.append(v)
        self._sweep_cdf_orphans(claim_grace_seconds)
        return done

    def _sweep_cdf_orphans(self, grace_seconds: float) -> list[str]:
        """Delete any ``v<version>-<token>-…`` feed file whose version
        has a FINALIZED marker that does not list it (ADVICE r10: the
        residue of a finalize race or a repaired crash) — guarded by
        the grace window so an in-flight exporter's files are never
        touched, and by the finalized-marker check so unclaimed /
        in-claim versions keep their stage. Called by export_changes
        and vacuum_change_feed; idempotent."""
        import os
        import time as _time

        swept: list[str] = []
        listed: dict[int, set] = {}
        for fn in self._backend.list_names(self._cdf_dir()):
            m = _re.fullmatch(r"v(\d{8})-[0-9a-f]+-.+\.parquet", fn)
            if not m:
                continue
            v = int(m.group(1))
            if v not in listed:
                rec = self._feed_marker(v)
                files = rec.get("files") if rec else None
                # None ⇒ unfinalized/unreadable: leave everything
                listed[v] = set(files) if files is not None else None
            ref = listed[v]
            if ref is None or fn in ref:
                continue
            p = os.path.join(self._cdf_dir(), fn)
            try:
                if self._backend.mtime(p) <= _time.time() - \
                        grace_seconds:
                    self._backend.delete(p)
                    swept.append(fn)
            except OSError:
                pass
        return swept

    def vacuum_change_feed(self, before_version: int,
                           orphan_grace_seconds: float = 3600.0
                           ) -> list[int]:
        """Feed retention: drop the exported change FILES of versions
        below ``before_version`` (they grow forever otherwise — one
        parquet set per commit). The marker stays, finalized with an
        empty file list and a ``vacuumed_at_unix`` stamp, so the
        version still counts as exported — ``export_changes`` never
        re-exports it and ``maintenance_plan`` never reports it as
        backlog. Only vacuum below every consumer's watermark: a
        file-stream checkpoint that already consumed the files never
        re-reads them, but a NEW consumer starting from scratch sees
        the feed begin at ``before_version`` (the same
        retention-vs-new-reader trade snapshot vacuum has). Returns
        the versions whose files were removed."""
        import json as _json
        import os
        import time as _time

        removed: list[int] = []
        exp_dir = os.path.join(self._cdf_dir(), "_exported")
        for name in self._backend.list_names(exp_dir):
            try:
                n = int(name.split(".", 1)[0])
            except ValueError:
                continue
            if n >= before_version:
                continue
            rec = self._feed_marker(n)
            if rec is None:
                continue
            files = rec.get("files")
            if not files:           # unfinalized crash or already swept
                continue
            for f in files:
                self._backend.delete(os.path.join(self._cdf_dir(), f))
            rec["files"] = []
            rec["vacuumed_at_unix"] = round(_time.time(), 3)
            self._backend.put(self._cdf_marker(n),
                              _json.dumps(rec).encode())
            removed.append(n)
        # finalize-race residue: files no finalized marker lists
        # (ADVICE r10), grace-guarded against in-flight exporters
        self._sweep_cdf_orphans(orphan_grace_seconds)
        return sorted(removed)

    def _check_feed_schema_compat(self, head) -> None:
        """ADVICE r10: the feed stream reads every retained ``_cdf/``
        file under the HEAD schema. Columns ADDED since an export are
        fine (parquet fills NULL), but a column DROPPED or RETYPED
        after an export would silently omit (or fail to read) that
        column from historical change rows — so compare the head
        schema against each finalized marker's recorded export-time
        schema and raise a clear error naming the boundary; the
        operator then either vacuums the feed past it
        (``vacuum_change_feed(v+1)``) or replays history through
        ``changes_at`` per version."""
        import os as _os

        from pyspark.sql.types import StructType

        head_types = {f.name: f.dataType for f in head.fields}
        exp_dir = _os.path.dirname(self._cdf_marker(0))
        for name in self._backend.list_names(exp_dir):
            try:
                ver = int(name.split(".", 1)[0])
            except ValueError:
                continue
            rec = self._feed_marker(ver)
            if not rec or not rec.get("files"):
                continue          # unreadable / unfinalized / vacuumed
            exported = self._to_nullable(
                StructType.fromJson(rec["schema"]))
            for f_ in exported.fields:
                got = head_types.get(f_.name)
                if got is None or got != f_.dataType:
                    why = ("dropped" if got is None
                           else f"retyped {f_.dataType.simpleString()}"
                                f" -> {got.simpleString()}")
                    raise ValueError(
                        f"stream_changes: column {f_.name!r} was "
                        f"{why} after version {ver} was exported — "
                        "the retained feed cannot be read under the "
                        "head schema. vacuum_change_feed("
                        f"{ver + 1}) past the boundary, or replay "
                        "history via changes_at(version)."
                    )

    def stream_changes(self, max_files_per_trigger: int | None = None
                       ) -> DataFrame:
        """The exported change feed as a STREAMING DataFrame — a plain
        Structured Streaming file source over ``_cdf/`` (schema = the
        head snapshot's columns + ``_change_type`` string +
        ``_commit_version`` long), so every file-source guarantee
        applies unchanged: checkpointed exactly-once per file,
        ``maxFilesPerTrigger`` back-pressure, availableNow catch-up
        batches. Files exported before an ADDITIVE schema evolution
        read their missing columns as NULL (parquet fills
        declared-but-absent columns); a column dropped or retyped
        since an export is detected against the marker-recorded
        export-time schemas and raises with the boundary version
        (ADVICE r10) instead of silently corrupting historical rows.
        A trigger may span several commits;
        ``_commit_version`` keeps per-key total order recoverable —
        downstream mergers take the max-version row per key per batch
        (the run_cdc_upsert_stream dedup). Raises before the first
        commit (no schema to declare)."""
        import os

        from pyspark.sql.types import LongType, StringType, StructField, StructType

        v = self.current_version()
        if v == 0:
            raise ValueError(
                f"stream_changes: table at {self.root} has no "
                "committed version yet"
            )
        os.makedirs(self._cdf_dir(), exist_ok=True)
        base = self._to_nullable(
            StructType.fromJson(self._manifest(v)["schema"]))
        self._check_feed_schema_compat(base)
        schema = StructType(list(base.fields) + [
            StructField("_change_type", StringType(), True),
            StructField("_commit_version", LongType(), True),
        ])
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   int(max_files_per_trigger))
        return reader.parquet(self._cdf_dir())

    def vacuum(self, keep_last_n: int = 2,
               stage_grace_seconds: float = 3600.0) -> list[int]:
        """Drop snapshots older than the last ``keep_last_n`` committed
        versions: their manifests (and bloom files) are removed, then
        any data file no retained manifest references is deleted —
        reference-counted retention, safe by construction for files
        shared across versions (a file referenced by any kept manifest
        is never touched). Returns the removed version numbers.
        Idempotent: a second call removes nothing.

        There is no writer lock, so an UNREFERENCED young file could
        belong to an in-flight commit — ``stage_grace_seconds``
        protects files newer than the grace window (Delta's
        retention-hours analog; pass 0 only when no writer can be
        live). Crash orphans are such unreferenced ``_data/tx-<id>``
        stages, swept once they age past the window.

        Readers pinned to a vacuumed snapshot (reader held a DataFrame
        across the retention window) are the documented retention
        trade — same as Delta's VACUUM: the held DataFrame fails
        LOUDLY at scan time (FileNotFound task failure, proven by
        tests/test_upsert.py::test_vacuum_live_reader_fails_loudly)
        rather than returning wrong or empty results. Size
        ``keep_last_n`` so retention covers the longest-lived reader:
        with merges every M minutes and queries running up to Q
        minutes, keep at least ceil(Q/M) + 1 versions."""
        import os
        import time as _time

        removed: set[int] = set()
        v = self.current_version()
        floor = max(1, v - keep_last_n + 1)
        # 0) a retained DELTA manifest must not resolve through a
        # dropped base: materialize the floor record as a full
        # listing first (content-identical — atomic replace; the
        # object-store substitute is a plain PUT of the same
        # version object). Versions above the floor chain through
        # retained records by construction (each delta's base is
        # its immediate parent).
        if floor > 1 and self._backend.exists(self._manifest_path(floor)):
            fman = self._manifest(floor)
            if not self._is_full(fman):
                import json as _json

                full = {k: val for k, val in fman.items()
                        if k not in ("delta_of", "added", "removed")}
                full["files"] = dict(self._files(floor))
                full["chain"] = 0
                full = self._externalize_files(floor, full)
                self._backend.put(self._manifest_path(floor),
                                  _json.dumps(full).encode())
                self._mcache[floor] = full
        # 1) retire manifests (+ their bloom files) outside
        # retention, and sweep temp files a crashed writer left
        # in the log (they are never part of version identity)
        for e in self._backend.list_names(self._log_dir()):
            if e.startswith("_"):
                # crashed-writer temp (the backend names its
                # write-then-publish temps "_<target>.<rand>");
                # never part of version identity, grace-guarded
                p = os.path.join(self._log_dir(), e)
                try:
                    if self._backend.mtime(p) <= _time.time() - \
                            stage_grace_seconds:
                        self._backend.delete(p)
                except OSError:
                    pass
                continue
            # ONLY manifests BELOW the retention floor are removed.
            # A manifest ABOVE the sampled head is never an orphan:
            # the atomic manifest create IS the commit, so n > v can
            # only mean a commit that landed after current_version()
            # was sampled — with no lock, a real,
            # acknowledged concurrent commit whose deletion would
            # silently roll the table back (ADVICE r8 high). Crash
            # orphans are DATA files (staged before the create),
            # swept below; manifests are version identity.
            m = _re.fullmatch(r"(\d+)\.json", e)
            if m and int(m.group(1)) < floor:
                n = int(m.group(1))
                self._backend.delete(os.path.join(self._log_dir(), e))
                removed.add(n)
                self._mcache.pop(n, None)
                self._fcache.pop(n, None)
                self._kcache.pop(n, None)
                self._backend.delete(self._bloom_file(n))
                self._backend.delete(self._bloom_bin_file(n))
        # Sidecar sweep (parquet checkpoints + DV binaries). A
        # checkpoint is live iff its OWN version's manifest
        # references it by name; a DV sidecar is live iff ANY
        # retained manifest's dv section references it (refs carry
        # across commits). Retired versions' dead sidecars go now;
        # a racing loser's sidecar (its json lost the conditional
        # PUT, or never landed) is grace-guarded like staged files.
        live_dv_refs: set[str] = set()
        for e in self._backend.list_names(self._log_dir()):
            m = _re.fullmatch(r"(\d+)\.json", e)
            if not m or int(m.group(1)) < floor:
                continue
            try:
                man = self._manifest(int(m.group(1)))
            except Exception:  # noqa: BLE001 — torn read: skip
                continue
            for entry in (man.get("dv") or {}).values():
                if isinstance(entry, dict):
                    live_dv_refs.add(entry["ref"])
        for e in self._backend.list_names(self._log_dir()):
            mc = _re.fullmatch(r"(\d+)\.ckpt\.[0-9a-f]+\.parquet", e)
            md = _re.fullmatch(r"(\d+)\.dv\.[0-9a-f]+\.bin", e)
            if not mc and not md:
                continue
            n = int((mc or md).group(1))
            path = os.path.join(self._log_dir(), e)
            if md:
                if e in live_dv_refs:
                    continue
            elif self._backend.exists(self._manifest_path(n)):
                try:
                    live = self._manifest(n).get("ckpt") == e
                except Exception:  # noqa: BLE001 — torn read: keep
                    live = True
                if live:
                    continue
            if n < floor:
                self._backend.delete(path)
                self._dvcache.pop(e, None)
                continue
            try:
                if self._backend.mtime(path) <= _time.time() - \
                        stage_grace_seconds:
                    self._backend.delete(path)
                    self._dvcache.pop(e, None)
            except OSError:
                pass
        # 2) reference-count across retained manifests, then sweep
        # unreferenced data files (grace-guarded). The manifest set is
        # RE-LISTED here, after the retirement pass: with no lock, a
        # concurrent commit may have published a version above the
        # sampled head — its manifest survived the pass above and its
        # file references (carried + newly staged) must count (ADVICE
        # r8; the grace window alone already protects its YOUNG files,
        # this protects carried ones against a floor that races past
        # the sampled head).
        referenced: set[str] = set()
        for e in self._backend.list_names(self._log_dir()):
            m = _re.fullmatch(r"(\d+)\.json", e)
            if not m or int(m.group(1)) < floor:
                continue
            # keys-only resolve: reference counting never needs
            # zone maps (VERDICT r9 next-1)
            for rel in self._file_keys(int(m.group(1))):
                referenced.add(
                    os.path.normpath(os.path.join(self.root, rel))
                )
        data_root = os.path.join(self.root, "_data")
        cutoff = _time.time() - stage_grace_seconds
        for tx in self._backend.list_names(data_root):
            txdir = os.path.join(data_root, tx)
            # dir age SAMPLED BEFORE the sweep: removing files
            # bumps the dir mtime, which must not re-young it
            # (an object backend with no directory mtimes keeps
            # the tx prefix and relies on per-file ages alone)
            try:
                dir_young = self._backend.mtime(txdir) > cutoff
            except OSError:
                continue
            keep_any = False
            for full in self._backend.walk_files(txdir):
                if os.path.normpath(full) in referenced:
                    keep_any = True
                elif full.endswith(".parquet"):
                    try:
                        if self._backend.mtime(full) <= cutoff:
                            self._backend.delete(full)
                        else:
                            keep_any = True
                    except OSError:
                        keep_any = True
            if not keep_any and not dir_young:
                self._backend.delete_prefix(txdir)
        return sorted(removed)

    _WHOLE_TABLE = object()  # compact() sentinel: None is a real
    # partition value (the __HIVE_DEFAULT_PARTITION__ directory)

    def compact(self, partition_value=_WHOLE_TABLE, target_files: int = 1,
                wait: bool = True, zorder_by: tuple[str, ...] | None = None,
                target_mb: float | None = None) -> int:
        """Small-file management (VERDICT r6 next-6): rewrite the
        current snapshot — or, on a partitioned table, ONE partition
        (``partition_value``; ``None`` means the NULL partition),
        carrying the rest forward — into ``target_files`` files,
        committed as a new version with byte-identical rows. Many
        small merges each append a few files per touched partition
        (and a new referenced tx-dir per commit);
        compaction restores scan efficiency — and collapses the
        read-path group count — without changing data (tested
        idempotent on the row set). It is also what PURGES deletion
        vectors: a compacted file is a rewrite, so its DV drops
        (see :meth:`maintenance_plan`).

        ``target_mb`` bin-packs by SIZE instead of file count (the
        OPTIMIZE default real lakehouses use — nobody knows the right
        file count, everybody knows the right file size): the output
        file count is ceil(total bytes of the rewritten files /
        target_mb), computed from the manifest's per-file ``bytes``
        (recorded at write time — no filesystem listing).

        ``zorder_by=(c1, ..., ck)`` makes this OPTIMIZE ZORDER for any
        number of keys: the rewrite range-partitions + sorts on the
        k-way Morton interleave of the range-normalized columns
        (operators/zorder.py), so the compacted files carry bounded
        k-rectangles and zone maps prune scans filtered on ANY of the
        keys (one key = plain linear clustering). ``target_files``
        then sets the z-range file count instead of a coalesce
        width."""
        def _n_out(rels, sizes: dict) -> int:
            if target_mb is None:
                return max(1, target_files)
            import math

            total = sum(sizes[r] for r in rels)
            return max(1, math.ceil(total / (target_mb * 1e6)))

        def _layout(df: DataFrame, n: int) -> DataFrame:
            if zorder_by is None:
                # coalesce (no shuffle) when narrowing; a size-targeted
                # fan-OUT (splitting oversized files) needs the shuffle
                from ..partitioning import estimated_width

                cur = estimated_width(df)
                if cur is None:
                    cur = df.rdd.getNumPartitions()
                if n <= cur:
                    return df.coalesce(n)
                return df.repartition(n)
            from .zorder import zorder_layout_cols

            return zorder_layout_cols(
                df, list(zorder_by), n_files=n
            ).drop("_z")

        def body() -> int:
            old_v = self.current_version()
            current = self._scan(old_v) if old_v >= 1 else None
            if current is None:
                return 0
            parts = self._parts
            # lazy keys+bytes resolve (bin-packing needs sizes only)
            fkeys, _, bytes_a, _ = self._zone_arrays(
                old_v, [], with_bytes=True, with_rows=False)
            fkeys = self._seq_list(fkeys)
            sizes = dict(zip(fkeys, bytes_a))
            if not parts or partition_value is self._WHOLE_TABLE:
                # whole-table compaction: on a partitioned table the
                # single-task coalesce write still emits one file per
                # partition (zorder clusters within its z-ranges)
                return self._commit(
                    _layout(current, _n_out(fkeys, sizes)),
                    op="compact_zorder" if zorder_by else "compact",
                    parent_v=old_v,
                    # a whole-table ZORDER declares the table's
                    # clustering intent; maintenance_plan() measures
                    # later layout decay against it
                    cluster=tuple(zorder_by) if zorder_by else None,
                )
            # one leaf partition: a scalar for 1-level tables, a tuple
            # for nested partitioning
            tup = (partition_value if isinstance(partition_value, tuple)
                   else (partition_value,))
            if len(tup) != len(parts):
                raise ValueError(
                    f"compact() needs one value per partition level "
                    f"({len(parts)}), got {tup!r}"
                )
            touched_dirs = self._spark_partition_dirnames(
                {tup}, [current.schema[p] for p in parts]
            )
            keep_rels = [
                rel for rel in fkeys
                if self._rel_partition_dir(rel) not in touched_dirs
            ]
            rewrite_rels = [r for r in fkeys if r not in set(keep_rels)]
            merged = _layout(current.filter(self._touched_cond({tup})),
                             _n_out(rewrite_rels, sizes))
            return self._commit_carrying(merged, keep_rels, old_v,
                                         current.schema, "compact")

        return self._txn(wait, body)

    # ---- predicate DML: DELETE / UPDATE / conditional MERGE INTO ----
    #
    # The Delta-parity DML tier on top of the same snapshot machinery.
    # delete_where/update_where take the read_where() ranges dict, so
    # the zone-map manifest drives FILE-level copy-on-write: files the
    # stats prove untouched carry forward (zero read, zero write), a
    # file proven fully inside a DELETE predicate is dropped from the
    # manifest without any Spark job (the Delta "metadata-only delete"
    # pattern), and only boundary files are rewritten. Composes with
    # compact(zorder_by=...): after clustering, a narrow predicate
    # touches a handful of files, so DML cost follows the predicate's
    # selectivity, not table size.

    def delete_where(self, ranges: dict, wait: bool = True,
                     use_deletion_vectors: bool = False) -> int:
        """``DELETE FROM t WHERE <conjunctive BETWEEN ranges>`` (the
        read_where() predicate shape; either bound None for one-sided).
        SQL semantics: a NULL predicate column never matches, so those
        rows survive. File-level CoW via the zone-map manifest:

        * file proven to hold NO matching row → carried forward,
        * file proven ALL-matching (bounds inside the range, zero
          nulls) → dropped — metadata-only, no scan,
        * boundary file → rewritten with the keep-filter, OR — with
          ``use_deletion_vectors`` — carried forward with the matching
          row POSITIONS recorded in the commit's deletion vector
          (merge-on-read): no data is rewritten at all, readers
          anti-join the broadcast DV, and the DV purges when the file
          is eventually rewritten (compact / a later CoW touch). The
          unclustered-predicate / GDPR-single-row shape where
          rewriting multi-GB files for a handful of rows is the wrong
          trade; the cost moves to reads, so compact once the DV
          density passes :meth:`needs_compaction`'s threshold (or set
          ``auto_compact_dv`` to make that automatic).

        A delete whose predicate aligns with the clustering (zorder /
        ingestion time / monotone key) therefore runs zero or near-zero
        Spark jobs regardless of table size. Returns the new version."""
        def body() -> int:
            from pyspark.sql.types import StructType

            old_v = self.current_version()
            if old_v == 0:
                raise ValueError("delete_where on an empty table")
            # schema comes from the manifest — a metadata-only or
            # DV delete never constructs a table scan at all
            schema = self._to_nullable(
                StructType.fromJson(self._manifest(old_v)["schema"])
            )
            residual = self._range_residual(ranges)
            # NULL never matches a BETWEEN: keep = NOT coalesce(m, F)
            keep_pred = (
                F.lit(False) if residual is None
                else ~F.coalesce(residual, F.lit(False))
            )
            # lazy columnar classification (VERDICT r9 next-1): only
            # the predicate columns' zones are read, never a full
            # zone-map materialization
            keys, _, _, za = self._zone_arrays(old_v, list(ranges),
                                               with_rows=False)
            keep, cont = self._mask_range(za, len(keys), ranges, True)
            # no row matches -> carry; fully matching -> drop
            # (metadata-only); boundary -> rewrite or DV
            keep_rels = self._keys_where(keys, [not k for k in keep])
            boundary = self._keys_where(
                keys, [k and not c for k, c in zip(keep, cont)])
            out = None
            new_dv: dict | None = None
            if boundary and use_deletion_vectors:
                scan = self._scan(old_v, relkeys=boundary, keep_pos=True)
                # positions of LIVE matching rows (the DV-aware scan
                # already excludes previously-deleted positions);
                # packed per-file on executors, streamed to the
                # sidecar — driver holds {ref,off,n} only (r11)
                match = (F.lit(True) if residual is None
                         else F.coalesce(residual, F.lit(False)))
                new_dv = self._build_new_dv(scan.filter(match), old_v)
                keep_rels = keep_rels + boundary  # carry, don't rewrite
            elif boundary:
                scan = self._scan(old_v, relkeys=boundary)
                out = scan.filter(keep_pred)
            return self._commit_carrying(
                out, keep_rels, old_v, schema,
                "delete_where_dv" if new_dv is not None else "delete_where",
                new_dv=new_dv,
                rebase=(boundary, ranges, None),
            )

        v = self._txn(wait, body)
        self._maybe_auto_compact(wait, v)
        return v

    def delete_keys(self, col: str, values, wait: bool = True,
                    use_deletion_vectors: bool = False) -> int:
        """``DELETE FROM t WHERE col IN (<values>)`` — the GDPR /
        right-to-be-forgotten shape: a bounded id list against a huge
        table. File pruning is the read_point() stack (zone maps, then
        the per-file Bloom index when one is built for ``col``), so on
        a clustered or bloom-indexed key the delete touches a handful
        of files regardless of table size; each touched file is either
        rewritten with the keep-filter (CoW) or — with
        ``use_deletion_vectors`` — carried forward with the matching
        positions recorded (no data rewrite at all; the compact()
        lifecycle repays the read tax as usual). NULL probe values are
        dropped (SQL IN never matches NULL) and NULL-keyed rows always
        survive. An empty value list — or a probe set the zone/Bloom
        pruning proves touches NO file — is a no-op returning the
        CURRENT version (no metadata-only commit for a miss; ADVICE
        r9). Returns the committed version."""
        vals = [x for x in values if x is not None]

        def body() -> int:
            from pyspark.sql.types import StructType

            old_v = self.current_version()
            if old_v == 0:
                raise ValueError("delete_keys on an empty table")
            self._check_not_fenced(old_v)
            if not vals:
                return old_v
            schema = self._to_nullable(
                StructType.fromJson(self._manifest(old_v)["schema"])
            )
            touched = self._point_prune(col, vals, old_v)
            if not touched:
                # every probe pruned: nothing to delete — return the
                # CURRENT version (matching the empty-values no-op)
                # instead of publishing a metadata-only commit that
                # churns history/retention for a miss (ADVICE r9)
                return old_v
            tset = set(touched)
            keep_rels = [r for r in self._file_keys(old_v)
                         if r not in tset]
            match = F.col(col).isin(vals)
            out = None
            new_dv: dict | None = None
            if use_deletion_vectors:
                scan = self._scan(old_v, relkeys=touched, keep_pos=True)
                new_dv = self._build_new_dv(scan.filter(match), old_v)
                keep_rels = keep_rels + touched
            else:
                scan = self._scan(old_v, relkeys=touched)
                out = scan.filter(~F.coalesce(match, F.lit(False)))
            return self._commit_carrying(
                out, keep_rels, old_v, schema,
                "delete_keys_dv" if new_dv is not None else "delete_keys",
                new_dv=new_dv,
                rebase=(touched, None, (col, vals)),
            )

        v = self._txn(wait, body)
        self._maybe_auto_compact(wait, v)
        return v

    def update_where(self, ranges: dict, assignments: dict,
                     wait: bool = True,
                     use_deletion_vectors: bool = False) -> int:
        """``UPDATE t SET col = expr WHERE <ranges>``. ``assignments``
        maps column → Column expression (may reference other columns)
        or plain literal; each result is cast back to the column's
        table type so rewritten files stay schema-identical to
        carried ones. Files proven to hold no matching row carry
        forward untouched; everything else is rewritten with the
        conditional projection (rows outside the predicate pass through
        bit-unchanged). With ``use_deletion_vectors`` the update is
        merge-on-read instead: every file carries forward, the OLD
        versions of matching rows are DV-deleted, and the updated
        copies append as a new file — write cost ∝ matched rows,
        independent of the size of the files they live in (the sparse-
        update analog of the DV delete; same read-side anti-join
        trade, same compact-to-purge lifecycle). The partition column
        cannot be assigned (a row may not change partitions — the
        standard lakehouse constraint; use delete + merge for a
        partition move)."""
        def body() -> int:
            from pyspark.sql.types import StructType

            old_v = self.current_version()
            if old_v == 0:
                raise ValueError("update_where on an empty table")
            schema = self._to_nullable(
                StructType.fromJson(self._manifest(old_v)["schema"])
            )
            missing = [c for c in assignments if c not in schema.fieldNames()]
            if missing:
                raise ValueError(f"UPDATE of unknown column(s): {missing}")
            assigned_parts = set(assignments) & set(self._parts)
            if assigned_parts:
                raise ValueError(
                    "UPDATE may not assign the partition column(s) "
                    f"{sorted(assigned_parts)!r} (rows cannot change "
                    "partitions; delete + merge instead)"
                )
            residual = self._range_residual(ranges)
            match = (
                F.lit(True) if residual is None
                else F.coalesce(residual, F.lit(False))
            )

            def _proj(df):
                cols = []
                for f_ in schema.fields:
                    if f_.name in assignments:
                        v = assignments[f_.name]
                        v = v if isinstance(v, Column) else F.lit(v)
                        cols.append(
                            F.when(match, v.cast(f_.dataType))
                            .otherwise(F.col(f_.name))
                            .cast(f_.dataType).alias(f_.name)
                        )
                    else:
                        cols.append(F.col(f_.name))
                return df.select(cols)

            # lazy columnar keep/touch split (VERDICT r9 next-1)
            keys, _, _, za = self._zone_arrays(old_v, list(ranges),
                                               with_rows=False)
            keep, _ = self._mask_range(za, len(keys), ranges, False)
            keep_rels = self._keys_where(keys, [not k for k in keep])
            touched = self._keys_where(keys, keep)
            out = None
            new_dv: dict | None = None
            if touched and use_deletion_vectors:
                # merge-on-read UPDATE: carry EVERY file forward,
                # DV-delete the old versions of matching rows, append
                # the updated copies as a new file — write cost ∝
                # matched rows, independent of the size of the files
                # they live in
                scan = self._scan(old_v, relkeys=touched, keep_pos=True)
                matched = scan.filter(match)
                new_dv = self._build_new_dv(matched, old_v)
                out = _proj(matched.drop("_file_rel", "_row_pos"))
                keep_rels = keep_rels + touched
            elif touched:
                scan = self._scan(old_v, relkeys=touched)
                out = _proj(scan)
            return self._commit_carrying(
                out, keep_rels, old_v, schema,
                "update_where_dv" if new_dv is not None else "update_where",
                new_dv=new_dv,
                rebase=(touched, ranges, None),
            )

        v = self._txn(wait, body)
        self._maybe_auto_compact(wait, v)
        return v

    def update_keys(self, col: str, values, assignments: dict,
                    wait: bool = True,
                    use_deletion_vectors: bool = False) -> int:
        """``UPDATE t SET ... WHERE col IN (<values>)`` — the keyed
        rectification twin of :meth:`delete_keys` (same read_point
        pruning stack; zone maps + Bloom index). ``assignments`` as in
        :meth:`update_where` (Column expressions or literals, cast
        back to the table type; partition columns unassignable). CoW
        rewrites each touched file with the conditional projection;
        ``use_deletion_vectors`` carries every touched file, DV-deletes
        the old versions of matching rows and appends the updated
        copies — write cost ∝ matched rows. NULL probes dropped; an
        empty list or a fully-pruned probe set is a no-op returning
        the current version (ADVICE r9)."""
        vals = [x for x in values if x is not None]

        def body() -> int:
            from pyspark.sql.types import StructType

            old_v = self.current_version()
            if old_v == 0:
                raise ValueError("update_keys on an empty table")
            self._check_not_fenced(old_v)
            if not vals:
                return old_v
            schema = self._to_nullable(
                StructType.fromJson(self._manifest(old_v)["schema"])
            )
            missing = [c for c in assignments
                       if c not in schema.fieldNames()]
            if missing:
                raise ValueError(f"UPDATE of unknown column(s): {missing}")
            assigned_parts = set(assignments) & set(self._parts)
            if assigned_parts:
                raise ValueError(
                    "UPDATE may not assign the partition column(s) "
                    f"{sorted(assigned_parts)!r} (rows cannot change "
                    "partitions; delete + merge instead)"
                )
            match = F.coalesce(F.col(col).isin(vals), F.lit(False))

            def _proj(df):
                cols = []
                for f_ in schema.fields:
                    if f_.name in assignments:
                        v = assignments[f_.name]
                        v = v if isinstance(v, Column) else F.lit(v)
                        cols.append(
                            F.when(match, v.cast(f_.dataType))
                            .otherwise(F.col(f_.name))
                            .cast(f_.dataType).alias(f_.name)
                        )
                    else:
                        cols.append(F.col(f_.name))
                return df.select(cols)

            touched = self._point_prune(col, vals, old_v)
            if not touched:
                # all probes pruned: no row can match — no-op, current
                # version (matches the empty-values contract; ADVICE r9)
                return old_v
            tset = set(touched)
            keep_rels = [r for r in self._file_keys(old_v)
                         if r not in tset]
            out = None
            new_dv: dict | None = None
            if use_deletion_vectors:
                scan = self._scan(old_v, relkeys=touched, keep_pos=True)
                matched = scan.filter(match)
                new_dv = self._build_new_dv(matched, old_v)
                out = _proj(matched.drop("_file_rel", "_row_pos"))
                keep_rels = keep_rels + touched
            else:
                out = _proj(self._scan(old_v, relkeys=touched))
            return self._commit_carrying(
                out, keep_rels, old_v, schema,
                "update_keys_dv" if new_dv is not None else "update_keys",
                new_dv=new_dv,
                rebase=(touched, None, (col, vals)),
            )

        v = self._txn(wait, body)
        self._maybe_auto_compact(wait, v)
        return v

    # ---- DV maintenance policy (VERDICT r7 next-4) ------------------
    #
    # Merge-on-read is a loan: every DV'd position taxes EVERY
    # subsequent read with the broadcast anti-join (measured in
    # BASELINE.md: 0.39 s -> 1.72 s on the 6M-row fixture with a
    # 60k-position DV in force). compact() repays it — a rewrite
    # purges DVs. These methods turn the prose break-even ("compact
    # once DVs exceed a few % of rows") into code a long-running
    # table can act on.

    def dv_density(self, version: int | None = None) -> dict:
        """DV load of a snapshot: total live rows (manifest row counts
        minus nothing — DV positions are part of the footer counts),
        total DV'd positions, global density, and the per-file
        densities — all from the manifest, zero Spark jobs."""
        from urllib.parse import unquote

        v = self._resolve_version(version)
        if v == 0:
            return {"rows": 0, "dv_positions": 0, "density": 0.0,
                    "per_file": {}}
        man = self._manifest(v)
        dv_fs = {unquote(k): self._dv_count(ps)
                 for k, ps in (man.get("dv") or {}).items()}
        rows = 0
        per_file: dict[str, float] = {}
        dv_total = 0
        # lazy keys+rows resolve — no zone-map materialization
        keys, rows_a, _, _ = self._zone_arrays(v, [])
        keys, rows_a = self._seq_list(keys), self._seq_list(rows_a)
        for rel, n in zip(keys, rows_a):
            d = dv_fs.get(rel, 0)
            dv_total += d
            if isinstance(n, int) and n > 0:
                rows += n
                if d:
                    per_file[rel] = d / n
        return {
            "rows": rows,
            "dv_positions": dv_total,
            "density": (dv_total / rows) if rows else 0.0,
            "per_file": per_file,
        }

    def needs_compaction(self, threshold: float = 0.02,
                         version: int | None = None) -> bool:
        """True when the snapshot's DV density has crossed the
        read-tax break-even (default 2% of rows — the BASELINE.md
        measurement puts the anti-join overhead past the rewrite
        amortization around a few percent)."""
        d = self.dv_density(version)
        return d["dv_positions"] > 0 and d["density"] >= threshold

    def clustered_by(self, version: int | None = None) -> list[str]:
        """The table's declared clustering columns (set by a
        whole-table ``compact(zorder_by=...)``, carried forward by
        every later commit), or ``[]`` if the table was never
        clustered. Metadata-only: one manifest read."""
        v = self.current_version() if version is None else version
        if v < 1:
            return []
        return list(self._manifest(v).get("clustered_by") or [])

    def declare_clustering(self, cols, wait: bool = True) -> int:
        """Declare clustering INTENT without rewriting anything: a
        metadata-only commit that sets ``clustered_by`` exactly as a
        whole-table ``compact(zorder_by=...)`` would, so
        :meth:`maintenance_plan`'s decay leg starts watching these
        columns and :meth:`rezorder` knows what to re-establish. The
        physical layout is UNCHANGED — and usually decayed relative
        to the declared intent, so the first plan after declaring
        will typically recommend ``rezorder()``; use
        ``compact(zorder_by=...)`` to declare AND establish in one
        pass. Failover uses this to carry a primary's declared
        clustering onto a promoted replica, whose feed-applied
        layout is commit-ordered, not key-clustered (VERDICT r11
        next-5). Idempotent when the head already declares the same
        columns."""
        from pyspark.sql.types import StructType

        cols = [str(c) for c in cols]
        if not cols:
            raise ValueError(
                "declare_clustering needs at least one column")

        def body() -> int:
            head = self.current_version()
            if head < 1:
                raise ValueError(
                    f"declare_clustering on an empty table at "
                    f"{self.root} (no committed version)")
            man = self._manifest(head)
            schema = StructType.fromJson(man["schema"])
            missing = [c for c in cols if c not in schema.names]
            if missing:
                raise ValueError(
                    f"unknown clustering column(s) {missing}")
            if list(man.get("clustered_by") or []) == cols:
                return head
            return self._commit_carrying(
                None, self._file_keys(head), head, schema,
                "declare_clustering", cluster=tuple(cols))

        return self._txn(wait, body)

    def clustering_overlap(self, cols, version: int | None = None) -> dict:
        """Layout-quality metric from metadata alone (VERDICT r10
        next-7): per column, the average fraction of OTHER live files
        whose zone range overlaps a file's zone range —

        * ``0.0``  perfectly clustered: ranges disjoint, a point
          predicate reads one file;
        * ``~1.0`` fully decayed: every file spans the whole domain,
          zone maps prune nothing (the silent decay DML churn causes —
          every partition rewrite emits a file spanning that
          partition's full key range).

        A file with NO usable zone on the column (missing stats)
        can never be pruned, so it counts as overlapping everything;
        an ALL-NULL file is pruned by any range predicate, so it is
        excluded entirely. Exact, O(n log n) over the lazy columnar
        zone arrays — no Spark job, no full-entry materialization.
        Returns ``{col: {files, bounded, avg_overlap}}``."""
        v = self.current_version() if version is None else version
        out: dict[str, dict] = {}
        for c in list(cols):
            if v < 1:
                out[c] = {"files": 0, "bounded": 0, "avg_overlap": 0.0}
                continue
            prof, nb = self._overlap_profile(v, c)
            n = len(prof)
            avg = (sum(prof.values()) / n) if n else 0.0
            out[c] = {"files": n, "bounded": nb,
                      "avg_overlap": round(avg, 4)}
        return out

    def _overlap_profile(self, version: int, col: str
                         ) -> tuple[dict, int]:
        """Per-FILE overlap fractions for one column:
        ``({manifest key: fraction of other live files whose zone
        range overlaps this file's}, bounded count)``. All-null files
        are excluded (any range predicate prunes them); files with no
        usable zone get fraction 1.0 (never prunable). The kernel
        behind both :meth:`clustering_overlap` (its mean) and the
        incremental ``rezorder(only_decayed=True)`` victim pick."""
        import bisect

        keys, _, _, za = self._zone_arrays(version, [col],
                                           with_rows=False)
        keys = self._seq_list(keys)
        blank = [None] * len(keys)
        mins, maxs, _, ans = za.get(col, (blank, blank, blank, blank))
        ivals: list[tuple] = []         # (key, lo, hi)
        unbounded: list[str] = []
        for k, lo, hi, an in zip(keys, mins, maxs, ans):
            if an is True:
                continue                # all-null: always prunable
            if an is False and lo is not None:
                ivals.append((k, lo, hi))
            else:
                unbounded.append(k)     # no stats: never prunable
        # heterogeneous zone KINDS (a column retyped int→string across
        # commits, a case the change feed already tolerates elsewhere):
        # bounds of different kinds are not mutually orderable and
        # sorted() below would raise. Mirror _mask_range's cannot-prune
        # conservatism: keep the majority kind as the bounded
        # population and demote every other-kind file to unbounded
        # (overlap 1.0 — never prunable against the majority plane).
        def _kind(x):
            if isinstance(x, (list, tuple)):
                return x[0]
            return "num" if isinstance(x, (int, float)) else "str"

        kinds = {k: _kind(lo) for k, lo, _ in ivals}
        if len(set(kinds.values())) > 1:
            from collections import Counter

            counts = Counter(kinds.values())
            top = max(counts.values())
            major = min(kd for kd, c in counts.items() if c == top)
            unbounded.extend(k for k, _, _ in ivals if kinds[k] != major)
            ivals = [t for t in ivals if kinds[t[0]] == major]
        nb = len(ivals)
        n = nb + len(unbounded)
        if n <= 1:
            return ({k: 0.0 for k, _, _ in ivals}
                    | {k: 0.0 for k in unbounded}, nb)
        los = sorted(lo for _, lo, _ in ivals)
        his = sorted(hi for _, _, hi in ivals)
        # per bounded file i: |{j≠i bounded: lo_j <= hi_i and
        # hi_j >= lo_i}| via two binary searches — exact pairwise
        # interval overlap without the n² loop
        u = len(unbounded)
        prof = {
            k: (bisect.bisect_right(los, hi)
                - bisect.bisect_left(his, lo) - 1 + u) / (n - 1)
            for k, lo, hi in ivals
        }
        prof.update({k: 1.0 for k in unbounded})
        return prof, nb

    # above this average zone-range overlap the declared clustering
    # has decayed enough that skipping economics regress toward the
    # full scan — maintenance recommends rezorder(). Well-clustered
    # layouts sit near 2/(n-1) (boundary neighbors only); a churned
    # layout where partition rewrites span the key domain sits near 1.
    _CLUSTER_OVERLAP_FLOOR = 0.5

    def rezorder(self, target_files: int | None = None,
                 target_mb: float | None = None, wait: bool = True,
                 only_decayed: bool = False,
                 max_files: int | None = None) -> int:
        """Re-establish the table's DECLARED clustering (the
        ``clustered_by`` columns a whole-table ZORDER recorded) after
        DML churn has decayed the layout — the acting form of
        :meth:`maintenance_plan`'s clustering leg, exactly as
        ``compact()`` is for its DV leg. Defaults to preserving the
        current live file count (a re-layout, not a compaction); pass
        ``target_files`` / ``target_mb`` to also consolidate.

        ``only_decayed=True`` is the 100 TB form (Delta's incremental
        OPTIMIZE ZORDER shape): rewrite ONLY the files whose per-file
        zone overlap passed the decay floor on some clustering column
        — the wide files partition rewrites left behind — carrying
        every still-narrow file forward untouched (manifest
        reference). Cost follows the CHURN, not the
        table: a year of writes on a 100 TB table re-layouts the few
        percent of files DML actually widened, never the world.
        ``max_files`` caps one pass at the worst offenders (repeated
        passes converge); ``target_mb`` is the whole-table knob and
        is ignored here. No decayed files → metadata no-op (current
        version returned, nothing committed). Rewritten files purge
        their deletion vectors exactly like any rewrite."""
        spec = self.clustered_by()
        if not spec:
            raise ValueError(
                "rezorder() needs a recorded clustering — run "
                "compact(zorder_by=...) once to declare one")
        if not only_decayed:
            if target_files is None and target_mb is None:
                target_files = max(1, len(self._file_keys(
                    self.current_version())))
            return self.compact(target_files=target_files or 1,
                                target_mb=target_mb,
                                zorder_by=tuple(spec), wait=wait)

        def body() -> int:
            from .zorder import zorder_layout_cols

            old_v = self.current_version()
            if old_v == 0:
                return 0
            worst: dict[str, float] = {}
            for c in spec:
                prof, _ = self._overlap_profile(old_v, c)
                for k, f in prof.items():
                    if f > worst.get(k, -1.0):
                        worst[k] = f
            victims = {k for k, f in worst.items()
                       if f >= self._CLUSTER_OVERLAP_FLOOR}
            if max_files is not None and len(victims) > max_files:
                victims = set(sorted(
                    victims, key=lambda k: (-worst[k], k))[:max_files])
            if not victims:
                return old_v
            keep = [k for k in self._file_keys(old_v)
                    if k not in victims]
            rows = self._scan(old_v, relkeys=victims)
            merged = zorder_layout_cols(
                rows, list(spec),
                n_files=max(1, target_files or len(victims))
            ).drop("_z")
            return self._commit_carrying(merged, keep, old_v,
                                         rows.schema, "rezorder")

        return self._txn(wait, body)

    def maintenance_plan(self, threshold: float = 0.02,
                         small_file_mb: float = 16.0) -> dict:
        """What upkeep the CURRENT snapshot needs, from metadata alone:
        DV density vs the compaction threshold, how many
        tx-dir read groups a scan unions, and the SMALL-FILE load —
        files under ``small_file_mb`` (from the manifest's per-file
        bytes), the classic
        many-small-merges symptom — all repaid by ``compact()`` /
        ``compact(target_mb=...)``. The acting form of the documented
        policy; ``auto_compact_dv`` applies the DV leg automatically
        after DV-writing DML."""
        d = self.dv_density()
        v = self.current_version()
        groups = 0
        n_files = 0
        small = 0
        total_b = 0
        if v:
            man = self._manifest(v)
            # lazy keys+bytes resolve — no zone-map materialization
            keys, _, bytes_a, _ = self._zone_arrays(
                v, [], with_bytes=True, with_rows=False)
            keys = self._seq_list(keys)
            n_files = len(keys)
            if man.get("base") == "root":
                groups = len({
                    "/".join(r.split("/", 2)[:2]) for r in keys
                })
            total_b = sum(bytes_a)
            small = sum(1 for b in bytes_a if b < small_file_mb * 1e6)
        compact_dv = d["dv_positions"] > 0 and d["density"] >= threshold
        compact_small = n_files > 1 and small > n_files / 2
        actions = []
        if compact_dv:
            actions.append("compact()")
        elif compact_small:
            actions.append(f"compact(target_mb={small_file_mb * 8:g})")
        # Bloom-coverage leg (VERDICT r9 next-2): covered-file fraction
        # per indexed column, with a rebuild recommendation when live
        # files went unindexed (per-commit maintenance keeps this at
        # 1.0; a failed best-effort incremental build leaves its added
        # files out and shows up here). Metadata-only, zero Spark jobs.
        from urllib.parse import unquote

        bloom: dict[str, dict] = {}
        if v:
            live = set(keys)
            for col, files in self.file_index(v).items():
                covered = sum(1 for k in files if unquote(k) in live)
                frac = covered / n_files if n_files else 0.0
                bloom[col] = {
                    "indexed_files": covered,
                    "live_files": n_files,
                    "coverage": round(frac, 4),
                }
                if frac < self._BLOOM_COVERAGE_FLOOR:
                    actions.append(f"build_file_index({col!r})")
        # Clustering-decay leg (VERDICT r10 next-7): when the table
        # DECLARED a clustering (whole-table ZORDER), measure the
        # layout's actual zone-range overlap per clustering column —
        # DML churn decays it silently (every partition rewrite emits
        # a file spanning that partition's full key range), exactly
        # the decay Bloom coverage had pre-r10 — and recommend
        # rezorder() past the floor. Metadata-only, O(n log n) over
        # the lazy columnar zone arrays.
        clustering: dict[str, dict] = {}
        if v:
            spec = self.clustered_by(v)
            decayed: set[str] = set()
            n_prof = 0
            for c in spec:
                prof, nb = self._overlap_profile(v, c)
                n_prof = max(n_prof, len(prof))
                decayed |= {
                    k for k, f in prof.items()
                    if f >= self._CLUSTER_OVERLAP_FLOOR
                }
                avg = ((sum(prof.values()) / len(prof))
                       if prof else 0.0)
                clustering[c] = {
                    "files": len(prof),
                    "bounded": nb,
                    "avg_overlap": round(avg, 4),
                    "decayed_files": sum(
                        1 for f in prof.values()
                        if f >= self._CLUSTER_OVERLAP_FLOOR),
                }
            if any(m["avg_overlap"] >= self._CLUSTER_OVERLAP_FLOOR
                   for m in clustering.values()):
                # a minority of wide files → the incremental pass
                # (cost follows churn); majority-wide → re-layout all
                actions.append(
                    "rezorder(only_decayed=True)"
                    if decayed and len(decayed) < n_prof / 2
                    else "rezorder()")
        # Change-feed leg (r10): when the table HAS a feed (any export
        # marker exists), report the unexported backlog — versions a
        # consumer cannot see yet — and warn when retention is about
        # to outrun it (a vacuumed parent makes a version forever
        # unexportable; the discipline is export-before-vacuum).
        # Metadata-only: one marker existence check per retained
        # version.
        feed: dict | None = None
        import os as _os

        if v and self._backend.list_names(
                _os.path.join(self._cdf_dir(), "_exported")):
            def _finalized(n: int) -> bool:
                # a claim whose export crashed has files=None — its
                # rows were never published, so it counts as BACKLOG
                # (export_changes' repair path re-exports it), not as
                # exported; bare existence would report a green feed
                # while consumers are missing a version
                rec = self._feed_marker(n)
                return rec is not None and rec.get("files") is not None

            retained = sorted(h["version"] for h in self.history())
            rset = set(retained)
            backlog = [
                n for n in retained
                if (n == 1 or (n - 1) in rset) and not _finalized(n)
            ]
            feed = {
                "exported_up_to": max(
                    (n for n in retained if _finalized(n)), default=0),
                "backlog": len(backlog),
            }
            if backlog:
                actions.append("export_changes()")
        return {
            "dv": d,
            "dv_threshold": threshold,
            "compact_for_dv": compact_dv,
            "read_groups": groups,
            "n_files": n_files,
            "small_files": small,
            "total_mb": round(total_b / 1e6, 3),
            "compact_for_small_files": compact_small,
            "bloom": bloom,
            "clustering": clustering,
            "change_feed": feed,
            "actions": actions,
        }

    # below this covered-file fraction the keyed-DML touch set has
    # regressed enough toward the full scan that a rebuild pays
    _BLOOM_COVERAGE_FLOOR = 0.9

    def _maybe_auto_compact(self, wait: bool, version: int) -> None:
        """Opt-in post-DML hook: when ``auto_compact_dv`` is set and
        the committed snapshot's DV density crosses it, compact —
        purging the DVs and restoring the join-free read plan. Runs as
        its own commit AFTER the DML transaction (a failed compaction
        must not roll back the DML). BEST-EFFORT (ADVICE r8): the DML
        has already committed, so a lost compaction race — or any compaction failure — must
        not make the caller believe the DML failed; the committed
        version is always returned and the DVs stay until the next
        DML or an explicit compact() retries the policy; the failure
        is logged as a warning."""
        thr = getattr(self, "auto_compact_dv", None)
        if thr is not None and self.needs_compaction(thr):
            try:
                self.compact(wait=wait)
            except Exception as ex:  # noqa: BLE001 — maintenance is advisory
                _log.warning("%s: auto-compaction after version %d "
                             "failed: %r", self.root, version, ex,
                             exc_info=True)

    @staticmethod
    def _clause_cond(cond):
        """Normalize a merge_into clause condition: bool → constant,
        str → SQL over the ``t`` (target) / ``s`` (source) aliases,
        Column → as-is; always NULL-safe (NULL condition = clause does
        not fire, per SQL MERGE)."""
        if isinstance(cond, bool):
            return F.lit(cond)
        c = F.expr(cond) if isinstance(cond, str) else cond
        return F.coalesce(c, F.lit(False))

    def merge_into(self, source: DataFrame, when_matched_update=True,
                   when_matched_delete=False, when_not_matched_insert=True,
                   wait: bool = True) -> int:
        """Conditional-clause MERGE (the full ``MERGE INTO t USING s ON
        t.key = s.key`` statement): each clause condition is a bool, a
        Column, or a SQL string over the aliases ``t`` (target row) and
        ``s`` (source row), e.g. ``"s.ts > t.ts"``. Clause order
        follows SQL MERGE: for a matched pair DELETE is evaluated
        first, then UPDATE (source row wins wholesale), else the target
        row is kept unchanged; an unmatched source row INSERTs only if
        its condition holds; unmatched target rows always survive.
        ``source`` must carry the table's columns (key included).

        On a partitioned table the rewrite is partition-pruned exactly
        like :meth:`merge`: only partitions the SOURCE touches are
        recomputed (a matched target row is by definition in a source
        partition — key→partition immutability is the documented
        constraint), the rest carry forward.

        Preconditions (the SQL MERGE contract): the source must be
        KEY-UNIQUE — duplicate source keys make a matched target row
        multiply, exactly the condition ANSI MERGE/Delta reject;
        dedupe first (see run_cdc_upsert_stream's max-ts rule). Source
        columns beyond the table's are visible to the clause
        conditions but never written — EXCEPT on the very first commit
        of an empty table, whose schema is taken from the source
        verbatim (strip event-metadata columns before a first
        merge_into, as the CDC ingest does)."""
        key = self.key
        upd = self._clause_cond(when_matched_update)
        dele = self._clause_cond(when_matched_delete)
        ins = self._clause_cond(when_not_matched_insert)

        def body() -> int:
            parent_v = self.current_version()
            current = self._scan(parent_v) if parent_v >= 1 else None
            first = current is None
            if first:
                # empty table: every source row is unmatched; conditions
                # over t.* see NULLs (coalesced false) as SQL MERGE does
                current_df = self.spark.createDataFrame([], source.schema)
            else:
                current_df = current
            pruned = bool(self._parts) and not first
            if pruned:
                parts = self._parts
                touched = {
                    tuple(r)
                    for r in source.select(*parts).distinct().collect()
                }
                target = current_df.filter(self._touched_cond(touched))
            else:
                target = current_df
            t = target.withColumn("_t", F.lit(True)).alias("t")
            s = source.withColumn("_s", F.lit(True)).alias("s")
            joined = t.join(
                s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer"
            )
            t_here = F.col("t._t").isNotNull()
            s_here = F.col("s._s").isNotNull()
            matched = t_here & s_here
            take_src = (s_here & ~t_here & ins) | (matched & ~dele & upd)
            keep = (t_here & ~(matched & dele)) | (s_here & ~t_here & ins)
            cols = [
                F.when(take_src, F.col(f"s.{f_.name}").cast(f_.dataType))
                .otherwise(F.col(f"t.{f_.name}")).alias(f_.name)
                for f_ in current_df.schema.fields
            ]
            merged = joined.filter(keep).select(cols)
            if not pruned:
                return self._commit(merged, op="merge_into",
                                    parent_v=parent_v)
            old_v = parent_v
            touched_dirs = self._spark_partition_dirnames(
                touched, [current_df.schema[p] for p in parts]
            )
            keep_rels = [
                rel for rel in self._file_keys(old_v)
                if self._rel_partition_dir(rel) not in touched_dirs
            ]
            return self._commit_carrying(merged, keep_rels, old_v,
                                         current_df.schema, "merge_into")

        return self._txn(wait, body)

    def fence(self, wait: bool = True) -> int:
        """Seal the table: commit a metadata-only ``fence`` record as
        the new head. Every later commit attempt — from this handle or
        any other, including one whose batch was derived before the
        fence landed — raises :class:`TableFencedError` (the fence is
        the head, commits resolve their parent from the head inside
        the transaction, and a racer that claims the fence's slot
        first simply delays the fence by one retry). Reads, time
        travel, ``changes_at`` and feed export keep working, so a
        promoted replica can drain the final exported commits from a
        sealed primary. Idempotent: fencing a fenced table returns
        the existing fence version. This is the writer-fencing half
        of failover promotion (see streaming.ingest.promote_replica);
        the log-native analog of Delta's ownership transfer."""
        from pyspark.sql.types import StructType

        def body() -> int:
            head = self.current_version()
            if head < 1:
                raise ValueError(
                    f"fence on an empty table at {self.root} "
                    "(no committed version)"
                )
            man = self._manifest(head)
            if man.get("operation") == "fence":
                return head
            schema = StructType.fromJson(man["schema"])
            return self._commit_carrying(
                None, self._file_keys(head), head, schema, "fence")

        return self._txn(wait, body)

    def content_fingerprint(self, version: int | None = None,
                            cols: list[str] | None = None) -> dict:
        """Order-insensitive content checksum of a snapshot:
        ``{rows, hash, cols}`` where ``hash`` is the sum (exact, as
        decimal(38,0) — no overflow under ANSI) of xxhash64 over each
        row's INJECTIVE length-prefixed signature (the same
        ``_sig_field`` codec the diff/CDF plane uses, so embedded
        separators can't collide). Equal row multisets ⇒ equal
        fingerprints; a differing multiset collides only with
        ~2^-64 probability. Cost: ONE full scan with map-side partial
        aggregation and a single-row result — no shuffle of data, no
        driver materialization. This is the audit primitive behind
        replica divergence detection (streaming.ingest.verify_replica);
        at 100 TB you run it at sync/promotion cadence, not per
        commit."""
        df = self.read(version=version)
        if df is None:
            return {"rows": 0, "hash": "0", "cols": []}
        if cols is None:
            cols = sorted(df.columns)
        sig = F.xxhash64(F.concat(*[_sig_field(c) for c in cols]))
        r = (df.select(sig.alias("h"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
             .first())
        return {"rows": int(r.n),
                "hash": str(r.s if r.s is not None else 0),
                "cols": list(cols)}

    def exported_up_to(self) -> int:
        """Highest change-feed version with a FINALIZED export marker
        (files list published) — the version a fully-drained feed
        consumer has caught up to. 0 when the table has never
        exported. Metadata-only: one LIST of the marker prefix plus
        one small GET per marker. ``export_changes`` publishes
        versions in order and repairs crashed claims, so the max
        finalized marker is the consumer-visible frontier."""
        import os as _os

        best = 0
        names = self._backend.list_names(
            _os.path.join(self._cdf_dir(), "_exported"))
        for nm in names:
            m = _re.fullmatch(r"(\d+)\.json", nm)
            if not m:
                continue
            v = int(m.group(1))
            if v <= best:
                continue
            rec = self._feed_marker(v)
            if rec is not None and rec.get("files") is not None:
                best = v
        return best

    def restore(self, version: int, wait: bool = True) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF``: commit a
        RETAINED snapshot's exact content (deletion vectors, stats and
        bloom index included) as the new head — a NEW version, so
        history is preserved and the restore itself is auditable and
        restorable. PURE METADATA: the new manifest simply references
        the old files where they live, no data I/O at all. The head's
        CHECK constraints stay active (constraint admin is not rolled
        back), so the restored snapshot is revalidated against them.
        The escape hatch for a bad batch: merge v5, notice,
        ``restore(4)`` → v6 ≡ v4."""
        import time as _time

        def body() -> int:
            v_now = self.current_version()
            self._check_not_fenced(v_now)
            if not 1 <= version <= v_now:
                raise ValueError(
                    f"version {version} not committed (current: {v_now})"
                )
            if not self._backend.exists(self._manifest_path(version)):
                raise ValueError(f"version {version} was vacuumed")
            # constraints added AFTER the restored snapshot was written
            # must still hold on it (ADVICE r7) — otherwise the new
            # head would violate active CHECKs that every later commit
            # enforces. One validation scan, before anything commits.
            cons = self._constraints_at(v_now)
            if cons:
                viol = None
                for expr in cons.values():
                    bad = F.expr(expr) == F.lit(False)
                    viol = bad if viol is None else (viol | bad)
                if self.read(version=version).filter(viol).limit(1).count():
                    raise ConstraintViolationError(
                        f"restore(v={version}) aborted: the snapshot "
                        f"violates active CHECK constraint(s) "
                        f"{sorted(cons)} added after it was written"
                    )
            src_man = self._manifest(version)
            src_files = self._files(version)
            new_v = v_now + 1
            # always a FULL record: the restored content must not be
            # expressed as a delta of the abandoned head
            man = {
                "format": 2,
                "version": new_v,
                "operation": f"restore(v={version})",
                "committed_at_unix": round(_time.time(), 3),
                "base": "root",
                "schema": src_man["schema"],
                "dv": dict(src_man.get("dv") or {}),
                "files": dict(src_files),
                "n_files": len(src_files),
                "chain": 0,
            }
            # the restored snapshot's own clustering declaration is
            # authoritative (same rule as its bloom) — restoring to a
            # pre-clustering version genuinely un-declares it
            if src_man.get("clustered_by"):
                man["clustered_by"] = list(src_man["clustered_by"])
            if cons:
                man["constraints"] = cons
            man = self._externalize_files(new_v, self._externalize_dv(
                new_v, man))
            self._finalize(new_v, man, None)
            # the restored version's own bloom is authoritative —
            # the abandoned head's entries must NOT merge in
            bloom = self.file_index(version)
            if bloom:
                self._write_bloom(new_v, bloom)
            return new_v

        return self._txn(wait, body)

    def clone(self, target_root: str,
              version: int | None = None) -> "ParquetMergeTable":
        """Snapshot clone (the Delta ``CLONE`` shape): the chosen
        snapshot becomes a brand-new table rooted at ``target_root``
        (committed as its version 1), CHECK constraints and declared
        clustering included. Files are COPIED into the clone's own
        ``_data`` tree under their source keys (on a real object store
        this is a server-side copy — S3 CopyObject/UploadPartCopy — no
        bytes through the client; a zero-copy SHALLOW clone would
        reference the source's files by absolute path and break if the
        source vacuums them, Delta's documented shallow-clone hazard,
        so this table only offers the deep form). Stats, schema, DV
        and Bloom index come along, so skipping works on the clone
        immediately. The source's manifest pins the file list; a
        concurrent vacuum of the source is the caller's
        retention-window problem, same as any long reader."""
        import os
        import time as _time

        v = version if version is not None else self.current_version()
        if v == 0:
            raise ValueError("clone of an empty table")
        if not self._backend.exists(self._manifest_path(v)):
            raise ValueError(f"version {v} was vacuumed")
        # the clone lives in the same storage account: inherit the
        # source handle's backend (callers wanting a cross-account
        # clone open their own handle on the result)
        out = ParquetMergeTable(self.spark, target_root, self.key,
                                partition_by=self.partition_by,
                                backend=self._backend)
        if out.current_version() != 0:
            raise ValueError(f"{target_root} already holds a table")
        src_man = self._manifest(v)
        src_files = self._files(v)
        for rel in src_files:
            out._backend.copy(os.path.join(self.root, rel),
                              os.path.join(target_root, rel))
        man = {
            "format": 2,
            "version": 1,
            "operation": f"clone(v={v} of {self.root})",
            "committed_at_unix": round(_time.time(), 3),
            "base": "root",
            "schema": src_man["schema"],
            "files": dict(src_files),
            # refs resolve against the SOURCE's sidecars, which the
            # clone must not depend on (deep-clone contract): positions
            # materialize here and re-externalize under the clone
            "dv": {k: self._dv_positions(ps)
                   for k, ps in (src_man.get("dv") or {}).items()},
            "n_files": len(src_files),
        }
        # the clustering declaration and the CHECK constraints are
        # table metadata and come along (ADVICE r7) — without the
        # constraints the clone would accept commits the source rejects
        for meta in ("clustered_by", "constraints"):
            if src_man.get(meta):
                man[meta] = src_man[meta]
        man = out._externalize_files(1, out._externalize_dv(1, man))
        out._publish(1, man)
        bloom = self.file_index(v)
        if bloom:
            out._write_bloom(1, bloom)
        return out


def merge_upsert_idempotent(spark: SparkSession, sf_dir: str):
    """Evidence query for MERGE idempotence: the same batch is applied
    TWICE through merge_upsert and the result must equal the
    once-merged state (the oracle computes the single application).
    The batch both overlaps existing keys (updated rows get an 'X-'
    priority prefix — string-exact) and brings novel keys."""
    from ..tables import load

    orders = load(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 10 != 0)
    batch = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_orderpriority", F.concat(F.lit("X-"), F.col("o_orderpriority"))
    )
    once = merge_upsert(existing, batch, "o_orderkey")
    twice = merge_upsert(once, batch, "o_orderkey")
    return twice.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("o_orderpriority").startswith("X-"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_updated"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


def merge_dml_where(spark: SparkSession, sf_dir: str):
    """Evidence query for the predicate-DML tier: build a REAL
    ParquetMergeTable from orders (range-clustered on o_totalprice so
    the zone maps have traction), run a file-pruned DELETE, a
    conditional UPDATE, and BOTH keyed twins (r9: delete_keys, the
    explicit IN-list GDPR shape, and update_keys, the rectification
    price bump) through the committed-snapshot machinery, and
    aggregate what survived. The oracle computes the same DELETE +
    UPDATE semantics in SQL over the raw parquet — a wrong keep-filter,
    a mis-pruned file (rows silently surviving/vanishing), or an
    update leaking past its predicate all hash-mismatch."""
    import os
    import tempfile

    from ..tables import load

    orders = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="merge_dml_")
    t = ParquetMergeTable(spark, os.path.join(root, "t"), "o_orderkey")
    t.merge(
        orders.repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
    )
    t.delete_where({"o_totalprice": (150_000.0, 300_000.0)})
    t.update_where(
        {"o_totalprice": (None, 50_000.0)},
        {"o_orderpriority": F.concat(F.lit("U-"), F.col("o_orderpriority"))},
    )
    # the keyed GDPR-shape delete (r9): a bounded explicit id list,
    # zone/bloom-pruned — keys ≡ 7 mod 1000, collected driver-side as
    # a real deletion request would arrive
    victims = [
        r.o_orderkey
        for r in orders.filter(F.col("o_orderkey") % 1000 == 7)
        .select("o_orderkey").collect()
    ]
    t.delete_keys("o_orderkey", victims)
    # ... and its rectification twin: keys ≡ 13 mod 1000 get a price
    # bump (disjoint from the deleted set; composes with the U- update
    # on a different column)
    fixups = [
        r.o_orderkey
        for r in orders.filter(F.col("o_orderkey") % 1000 == 13)
        .select("o_orderkey").collect()
    ]
    t.update_keys("o_orderkey", fixups,
                  {"o_totalprice": F.col("o_totalprice") + 11.0})
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("o_orderpriority").startswith("U-"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_updated"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


def merge_into_conditional(spark: SparkSession, sf_dir: str):
    """Evidence query for the conditional-clause MERGE statement: a
    REAL ParquetMergeTable seeded from orders, then one merge_into with
    all three clause kinds live — UPDATE only where the source price
    is higher, DELETE matched keys divisible by 4 (checked BEFORE
    update, per SQL MERGE), INSERT only expensive unmatched rows. The
    oracle replays the same clause algebra in SQL over the raw
    parquet, so wrong precedence, a leaked clause, or a lost unmatched
    target row all hash-mismatch."""
    import os
    import tempfile

    from ..tables import load

    orders = load(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 10 != 0)
    src = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice",
        F.col("o_totalprice")
        + F.when(F.col("o_orderkey") % 2 == 0, F.lit(1000.0))
        .otherwise(F.lit(-1000.0)),
    )
    root = tempfile.mkdtemp(prefix="merge_into_cond_")
    t = ParquetMergeTable(spark, os.path.join(root, "t"), "o_orderkey")
    t.merge(existing)
    t.merge_into(
        src,
        when_matched_update="s.o_totalprice > t.o_totalprice",
        when_matched_delete="t.o_orderkey % 4 = 0",
        when_not_matched_insert="s.o_totalprice > 100000",
    )
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


def merge_sql_time_travel(spark: SparkSession, sf_dir: str):
    """Evidence query for the SQL addressing layer (VERDICT r8
    next-3): a REAL ParquetMergeTable gets two commits, registers the
    PINNED version-1 view AND the head view via to_view(), and the
    result is computed entirely in ``spark.sql`` over those views —
    the reference's stage-3 SQL surface (app.py:195-210) pointed at
    the mutable store, time travel included. The oracle replays both
    snapshots' contents relationally, so a view leaking head rows
    into the pinned version (or vice versa) hash-mismatches."""
    import os
    import tempfile

    from ..tables import load

    orders = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="merge_sql_tt_")
    t = ParquetMergeTable(spark, os.path.join(root, "t"), "o_orderkey")
    t.merge(orders.filter(F.col("o_orderkey") % 3 != 0))
    t.merge(
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
    )
    t.to_view("mt_orders_v1", version=1)
    t.to_view("mt_orders_head")
    return spark.sql("""
        SELECT src, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS total_cents
        FROM (
          SELECT 'v1' AS src, o_orderstatus, o_totalprice
          FROM mt_orders_v1
          UNION ALL
          SELECT 'head' AS src, o_orderstatus, o_totalprice
          FROM mt_orders_head
        )
        GROUP BY src, o_orderstatus
    """)


def merge_change_feed_stream(spark: SparkSession, sf_dir: str):
    """Evidence query for the change-feed stream (r10): a REAL
    ParquetMergeTable gets three commits (initial load, a price-bump
    merge, a DV keyed delete), the feed is EXPORTED and then consumed
    by an actual Structured Streaming file source (availableNow →
    parquet sink), and the result aggregates the CONSUMED rows per
    (commit, change type). The oracle replays all three commits'
    change sets relationally — a feed that drops, duplicates, or
    misclassifies any row (or leaks an 'unchanged' compaction row)
    hash-mismatches. The reference's consumers re-read the whole
    store after every load (parse_and_upload_to_db.py); this is the
    100 TB substitute — commit-bounded increments, exactly-once per
    file."""
    import os
    import tempfile

    from ..tables import load

    orders = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="merge_cdf_stream_")
    t = ParquetMergeTable(spark, os.path.join(root, "t"), "o_orderkey")
    t.merge(orders.filter(F.col("o_orderkey") % 3 != 0))
    t.merge(
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
    )
    probes = [r.o_orderkey for r in orders
              .filter(F.col("o_orderkey") % 97 == 0)
              .select("o_orderkey").collect()]
    t.delete_keys("o_orderkey", probes, use_deletion_vectors=True)
    t.export_changes()
    out = os.path.join(root, "feed_out")
    q = (t.stream_changes()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", os.path.join(root, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    fed = spark.read.parquet(out)
    return (
        fed.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum(F.floor(F.col("o_totalprice") * 100)
                   .cast("long")).cast("long").alias("total_cents"))
        .select(F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
                "n_rows", "total_cents")
    )


def _register_merge() -> None:
    from ..plans.catalog import register

    # Oracle applies the merge ONCE — the Spark side applying it twice
    # and still hash-matching IS the idempotence proof.
    register(
        "merge_upsert_idempotent",
        merge_upsert_idempotent,
        """
        WITH existing AS (
          SELECT * FROM orders WHERE o_orderkey % 10 <> 0
        ),
        batch AS (
          SELECT * REPLACE ('X-' || o_orderpriority AS o_orderpriority)
          FROM orders WHERE o_orderkey % 5 = 0
        ),
        merged AS (
          SELECT e.* FROM existing e
          WHERE e.o_orderkey NOT IN (SELECT o_orderkey FROM batch)
          UNION ALL
          SELECT * FROM batch
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN o_orderpriority LIKE 'X-%' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_updated,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM merged GROUP BY o_orderstatus
        """,
    )
    # DELETE semantics: NULL predicate values never match (kept);
    # UPDATE semantics: the prefix lands exactly on the <=50k rows.
    register(
        "merge_dml_where",
        merge_dml_where,
        """
        WITH survivors AS (
          SELECT o_orderstatus, o_orderkey,
                 o_totalprice AS price0,
                 CASE WHEN o_orderkey % 1000 = 13
                      THEN o_totalprice + 11.0 ELSE o_totalprice
                 END AS o_totalprice
          FROM orders
          WHERE (o_totalprice IS NULL
             OR NOT (o_totalprice BETWEEN 150000 AND 300000))
            AND o_orderkey % 1000 <> 7
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN price0 <= 50000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_updated,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM survivors
        GROUP BY o_orderstatus
        """,
    )
    # SQL-surface replay: v1 = keys not divisible by 3; head = MERGE
    # of the +1000-price batch (keys divisible by 2) into v1. The
    # pinned view must show pre-merge prices, the head view
    # post-merge — identical double arithmetic on both engines.
    register(
        "merge_sql_time_travel",
        merge_sql_time_travel,
        """
        WITH v1 AS (
          SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        ),
        batch AS (
          SELECT * REPLACE (o_totalprice + 1000.0 AS o_totalprice)
          FROM orders WHERE o_orderkey % 2 = 0
        ),
        head AS (
          SELECT * FROM v1
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
          UNION ALL
          SELECT * FROM batch
        )
        SELECT src, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS total_cents
        FROM (
          SELECT 'v1' AS src, o_orderstatus, o_totalprice FROM v1
          UNION ALL
          SELECT 'head' AS src, o_orderstatus, o_totalprice FROM head
        )
        GROUP BY src, o_orderstatus
        """,
    )
    # The change feed replayed relationally: v1 is all inserts; v2's
    # batch rows split inserted/updated by prior presence (the bumped
    # price always differs, so no matched row is 'unchanged'); v3
    # deletes carry the OLD image of keys present in the v2 state.
    # Identical double arithmetic (+1000.0, FLOOR(x*100)) on both
    # engines.
    register(
        "merge_change_feed_stream",
        merge_change_feed_stream,
        """
        WITH v1 AS (
          SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        ),
        batch AS (
          SELECT * REPLACE (o_totalprice + 1000.0 AS o_totalprice)
          FROM orders WHERE o_orderkey % 2 = 0
        ),
        v2 AS (
          SELECT * FROM v1
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
          UNION ALL
          SELECT * FROM batch
        ),
        feed AS (
          SELECT 1 AS commit_version, 'inserted' AS change_type,
                 o_totalprice
          FROM v1
          UNION ALL
          SELECT 2,
                 CASE WHEN o_orderkey % 3 = 0 THEN 'inserted'
                      ELSE 'updated' END,
                 o_totalprice
          FROM batch
          UNION ALL
          SELECT 3, 'deleted', o_totalprice
          FROM v2 WHERE o_orderkey % 97 = 0
        )
        SELECT CAST(commit_version AS BIGINT) AS commit_version,
               change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS total_cents
        FROM feed
        GROUP BY commit_version, change_type
        """,
    )
    # Clause algebra replay: matched = key in BOTH existing and src
    # (keys ≡ 5 mod 10); DELETE precedes UPDATE; unmatched targets
    # always survive; unmatched src (keys ≡ 0 mod 10) insert only when
    # expensive. Identical double arithmetic on both engines.
    register(
        "merge_into_conditional",
        merge_into_conditional,
        """
        WITH existing AS (
          SELECT * FROM orders WHERE o_orderkey % 10 <> 0
        ),
        src AS (
          SELECT * REPLACE (
            o_totalprice + CASE WHEN o_orderkey % 2 = 0
                                THEN 1000.0 ELSE -1000.0 END
            AS o_totalprice)
          FROM orders WHERE o_orderkey % 5 = 0
        ),
        merged AS (
          SELECT e.o_orderstatus,
                 CASE WHEN s.o_orderkey IS NOT NULL
                           AND s.o_totalprice > e.o_totalprice
                      THEN s.o_totalprice ELSE e.o_totalprice
                 END AS o_totalprice
          FROM existing e LEFT JOIN src s USING (o_orderkey)
          WHERE NOT (s.o_orderkey IS NOT NULL AND e.o_orderkey % 4 = 0)
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM src
          WHERE o_orderkey % 10 = 0 AND o_totalprice > 100000
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM merged GROUP BY o_orderstatus
        """,
    )


_register_merge()
