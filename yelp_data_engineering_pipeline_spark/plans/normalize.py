"""Stage-2 ETL: nested scrape results → 11-table star schema
(SURVEY.md §2.8, E2; reference parse_and_upload_to_db.py:84-183).

The reference loads row-at-a-time with per-value ``get_or_create``
round trips (N+1). This plan is the set-oriented rewrite (SURVEY E2.4):

    bronze (nested)
      ├─ quarantine split (P11: pydantic constraint regexes)
      ├─ business + surrogate ids (W3), one cached pass that also
      │  carries each child table's sorted per-business array
      ├─ per collection: explode → distinct → dim ids (J5 batch
      │  dim-merge — no per-row lookups)
      └─ per child table: posexplode the sorted array → broadcast-join
         the dim FK; open_hours' array holds the parsed ranges
         (F2/F4/F5), split shifts as several elements (N1)

Semantic deltas vs the reference (deliberate, documented):
- surrogate ids are deterministic (row_number over natural key), not
  insertion-order autoincrement — same shape, different values;
- weekday ids follow Mon..Sun canonical order (other names after
  NULL and before Mon, by name);
- constraint-violating rows and unparseable hour strings go to
  quarantine outputs instead of failing the whole transaction
  (the reference rolls back everything on one bad row,
  parse_and_upload_to_db.py:175-179).

Scale notes: every dim is bounded-cardinality → broadcast joins for FK
attachment; the only fact-scale shuffle is the business id sort. Name
dims number by a global window in name order (``dense_ids_window``);
``business`` by the two-phase range scheme (``dense_ids_with_offsets``,
operators/ids.py), which also carries the exclusive prefix sum of each
business's child count per child table. A child row's id is that
offset + its position in the business's sorted child array, so the
five child tables are a ``posexplode`` of the cached business rows and
a broadcast dim join — no window, no shuffle, no id pass of their own.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hours import hours_ranges
from ..operators.ids import dense_ids_window, dense_ids_with_offsets
from ..schemas import HEALTH_SCORE_PATTERN, PRICE_PATTERN, WEEKDAY_ORDER

# A child table inherits the business pass's partitions; it is coalesced
# to one partition per this many rows (about the child rows in one
# 64 MiB AQE advisory shuffle partition), so a small star's child tables
# stay one file each and request-time scans open no more files.
_CHILD_ROWS_PER_PARTITION = 1 << 20


def _weekday_pos(name: Column) -> Column:
    """1-based canonical Mon..Sun position; 0 for other names."""
    return F.array_position(F.array(*[F.lit(d) for d in WEEKDAY_ORDER]), name)


def _child_arrays() -> dict[str, Column]:
    """Each child table's rows of one business, as an array whose
    ``array_sort`` is the table's id order. Elements the inner dim join
    would drop (NULL names or weekdays, unparseable hour strings) are
    left out. Bridges sort by name, and name order is dim-id order
    (``_name_dim``); ``business_amenity``'s (amenity, is_available)
    structs break name ties by availability; ``open_hours`` sorts by
    (weekday position, weekday name), the weekday dim's order, then
    (open_time, close_time)."""

    def kept(col: str, field: str | None = None) -> Column:
        return F.filter(col, lambda x: (x[field] if field else x).isNotNull())

    def ranges(e: Column) -> Column:  # [] for unparseable hour strings
        return F.coalesce(
            F.transform(
                hours_ranges(e["open_hours"]),
                lambda r: F.struct(
                    _weekday_pos(e["weekday"]).alias("pos"),
                    e["weekday"].alias("weekday_name"),
                    r["open_time"].alias("open_time"),
                    r["close_time"].alias("close_time"),
                ),
            ),
            F.array(),
        )

    return {
        "open_hours": F.flatten(F.transform(kept("open_hours", "weekday"), ranges)),
        "business_food_category": kept("food_category"),
        "business_search_term": kept("related_search_terms"),
        "business_highlight": kept("highlights"),
        "business_amenity": kept("amenities", "amenity"),
    }


def _name_dim(values: DataFrame) -> DataFrame:
    """distinct name → (id, name) dim, ids dense by name order."""
    return dense_ids_window(values.select("name").distinct(), "name").select("id", "name")


def validity_predicate() -> F.Column:
    """P11: the pydantic constraints as a quarantine predicate
    (web_scraping.py:232-247)."""
    price_ok = F.col("price").isNull() | F.col("price").rlike(PRICE_PATTERN)
    health_ok = F.col("health_score").isNull() | F.col("health_score").rlike(HEALTH_SCORE_PATTERN)
    return F.col("name").isNotNull() & price_ok & health_ok


def normalize(results: DataFrame) -> dict[str, DataFrame]:
    """Nested results (RESULTS_SCHEMA) → star schema tables.

    Returns the 11 star tables plus ``quarantine`` (constraint-violating
    input rows) and ``hours_rejects`` (unparseable hour strings — the
    rows the reference would abort the batch on).
    """
    valid = results.filter(validity_predicate())
    quarantine = results.filter(~validity_predicate())

    # The child counts ride the business id pass; the sorted arrays are
    # built once, into the cached rows, after it (built before the range
    # shuffle, the boundary-sample job and the shuffle each built them).
    arrays = _child_arrays()
    keyed, totals = dense_ids_with_offsets(
        valid,
        "bizId",
        offsets={
            f"_off_{t}": F.when(arr.isNull(), 0).otherwise(F.size(arr))
            for t, arr in arrays.items()
        },
    )
    keyed = keyed.withColumns(
        {f"_{t}": F.array_sort(arr) for t, arr in arrays.items()}
    ).cache()

    # --- weekday dim: canonical Mon..Sun ordering (W2) ----------------------
    weekday = (
        keyed.select(F.explode("open_hours").alias("oh"))
        .select(F.col("oh.weekday").alias("name"))
        .distinct()
        .withColumn(
            "id",
            F.row_number().over(Window.orderBy(_weekday_pos(F.col("name")), "name")).cast("bigint"),
        )
        .select("id", "name")
    )

    tables = {
        "business": keyed.select(
            "id", "name", "website", "phone_number", "address", "price", "health_score"
        ),
        "weekday": weekday,
        **{
            d: _name_dim(keyed.select(F.explode(src).alias("name")))
            for d, src in (
                ("food_category", "food_category"),
                ("search_term", "related_search_terms"),
                ("highlight", "highlights"),
                ("amenity", "amenities.amenity"),
            )
        },
    }

    def child(t: str, dim: str, fk: str, name: str, *cols: str) -> DataFrame:
        """id = business offset + array position; ``fk`` from the
        broadcast ``dim`` joined on the element field ``name``."""
        rows = keyed.select(
            F.col("id").alias("business_id"),
            F.col(f"_off_{t}").alias("_off"),
            F.posexplode(f"_{t}").alias("_pos", "e"),
        ).select(
            (F.col("_off") + F.col("_pos") + 1).cast("bigint").alias("id"),
            "business_id",
            F.col(name).alias("_name"),
            *[F.col(f"e.{c}").alias(c) for c in cols],
        )
        ids = tables[dim].select(F.col("id").alias(fk), F.col("name").alias("_name"))
        parts = math.ceil(totals[f"_off_{t}"] / _CHILD_ROWS_PER_PARTITION)
        return (
            rows.join(F.broadcast(ids), "_name")
            .select("id", "business_id", fk, *cols)
            .coalesce(max(1, parts))
        )

    # bridges (N2-N4 / J5; the amenity bridge carries is_available, N5)
    # and open_hours, one row per parsed range: split shifts (N1)
    tables["open_hours"] = child(
        "open_hours", "weekday", "weekday_id", "e.weekday_name", "open_time", "close_time"
    )
    for t, dim, name in (
        ("business_food_category", "food_category", "e"),
        ("business_search_term", "search_term", "e"),
        ("business_highlight", "highlight", "e"),
    ):
        tables[t] = child(t, dim, f"{dim}_id", name)
    tables["business_amenity"] = child(
        "business_amenity", "amenity", "amenity_id", "e.amenity", "is_available"
    )
    tables["quarantine"] = quarantine
    tables["hours_rejects"] = (
        keyed.select(F.col("id").alias("business_id"), F.explode("open_hours").alias("oh"))
        .filter(hours_ranges(F.col("oh.open_hours")).isNull())
        .select(
            "business_id",
            F.col("oh.weekday").alias("weekday_name"),
            F.col("oh.open_hours").alias("hours_str"),
        )
    )
    return tables


def write_star_schema(tables: dict[str, DataFrame], out_dir: str) -> None:
    """Persist the star schema as parquet (the engine's native store;
    the JDBC sink in sources/jdbc.py is the drop-in alternative).

    The 13 table writes are independent jobs over mostly-tiny frames;
    submitting them sequentially leaves the cluster idle through each
    job's tail (optimization guide §2.6 — actions are only sequential
    because the driver calls them sequentially). A small thread pool
    keeps 4 writes in flight so the next job back-fills executors the
    current one's stragglers freed (~25-30% off the bench's 8k-row
    ingest leg at local[32] — see OPTIMIZATION_r13.md for the
    recorded A/B). FIFO scheduling (the default) preserves the back-fill
    behavior; per-thread job descriptions keep the UI readable. Each
    write is wrapped in ``inheritable_thread_target`` at submit time,
    so its jobs carry the caller's local properties and session tags
    (job group, scheduler pool) and count toward the caller's op. The
    first write materializes the shared ``keyed`` cache exactly once —
    concurrent fills of one cached plan are serialized by Spark's
    cache manager, and every frame here derives from it, so duplicate
    upstream compute is bounded to the race on the first fill."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _write(name: str, df: DataFrame) -> None:
        sc = df.sparkSession.sparkContext
        sc.setJobDescription(f"write_star_schema: {name}")
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
        sc.setJobDescription(None)

    # one wrap per write: each snapshots the caller's properties into
    # its own copy, so one write's description never leaks into another
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [
            pool.submit(inheritable_thread_target(df.sparkSession)(_write),
                        name, df)
            for name, df in tables.items()
        ]
        for f in futures:
            f.result()


def read_star_schema(
    spark, written: dict[str, DataFrame], out_dir: str
) -> dict[str, DataFrame]:
    """Read back a star schema persisted by :func:`write_star_schema`,
    planning job-free (r13, guide §7.3): a bare
    ``spark.read.parquet`` runs a schema-INFERENCE Spark job per table
    per call — 13 driver round trips per serving snapshot read — but
    the writer just wrote these files, so each table's schema is the
    written frame's schema (that is exactly what the parquet footer
    records; the files are re-read, nothing is cached). A serving
    deployment holds table schemas in its catalog for the same reason.
    """
    return {
        name: spark.read.schema(df.schema).parquet(f"{out_dir}/{name}.parquet")
        for name, df in written.items()
    }
