"""Dense surrogate ids and global ranks (SURVEY.md §2.5 W3, §7 hard
point 4): rows numbered 1..n in a total order. What remains, and who
calls it:

- ``dense_ids_window`` — row_number over one global (SINGLE-partition)
  window, for dimension-sized inputs: normalize's name dims; the tests'
  reference for the other schemes.
- ``dense_ids_with_offsets`` — the two-phase range scheme for
  fact-scale keys of any type: (1) range-repartition by the key,
  (2) count rows per partition (tiny driver-side collect) and
  prefix-sum them into offsets, (3) row_number within each partition
  + broadcast offset. Ids depend only on the key order, not on where
  Spark draws range boundaries. The same collect and window carry
  exclusive prefix sums of per-row counts: normalize's business ids,
  whose child-count sums number the five child tables.
  ``dense_ids_with_total`` (ids and n, no offsets) serves
  preptext.length_bins with ``ntile_from_rank``; ``dense_ids`` (ids
  only) wraps it.
- ``rank_histogram_grid_lazy`` — global rank of bounded numeric values
  on a fixed integer grid (no sample, persist or collect; one action):
  analytics.window_rank_distribution with ``ntile_from_rank_col``.
  ``rank_histogram_grid``, its eager form, is the tests' reference.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dense_ids_window(df: DataFrame, *order_cols: str, id_col: str = "id") -> DataFrame:
    w = Window.orderBy(*order_cols)
    return df.withColumn(id_col, F.row_number().over(w).cast("bigint"))


def dense_ids_with_offsets(
    df: DataFrame,
    *order_cols: str,
    offsets: Mapping[str, Column],
    id_col: str = "id",
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """The two-phase range scheme (module docstring) with prefix sums.

    Adds dense bigint ids 1..n in ``order_cols`` order (a total order)
    and, for each ``offsets`` entry, the EXCLUSIVE prefix sum of a
    non-negative integer count expression over ``df``, in id order (0 on
    the first row). Returns the frame and the totals: n under
    ``id_col``, each count's sum under its offset column. The
    per-partition sums ride the count collect and the in-partition
    running sums ride the row_number window, so offsets add no job."""
    cols = [F.col(c) for c in order_cols]
    cnts = {f"_cnt{i}": name for i, name in enumerate(offsets)}
    parted = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions is not None
        else df.repartitionByRange(*cols)
    ).withColumns({
        "_pid": F.spark_partition_id(),
        **{c: offsets[name].cast("bigint") for c, name in cnts.items()},
    })
    # MUST persist: range partitioning samples boundaries per action —
    # without this, the count job and the id job can draw different
    # boundaries and the offsets silently mismatch the final layout.
    # Tracked so harness loops can release it after materialization
    # (cache.release_tracked).
    from ..cache import tracked_persist

    parted = tracked_persist(parted)

    counts = (
        parted.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"), *[F.sum(c).alias(c) for c in cnts])
        .orderBy("_pid")
        .collect()
    )
    acc = dict.fromkeys(("_n", *cnts), 0)
    rows = []
    for r in counts:
        rows.append((r["_pid"], *acc.values()))
        for c in acc:
            acc[c] += r[c] or 0
    offset_df = parted.sparkSession.createDataFrame(
        rows or [(0,) * (len(acc) + 1)],
        ", ".join(["_pid int", *[f"_off{c} long" for c in acc]]),
    )

    def z(c: Column) -> Column:
        return F.coalesce(c, F.lit(0))

    w = Window.partitionBy("_pid").orderBy(*cols)
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    out = (
        parted.join(F.broadcast(offset_df), "_pid", "left")
        .withColumns({
            id_col: (F.row_number().over(w) + z(F.col("_off_n"))).cast("bigint"),
            **{
                name: (z(F.sum(c).over(before)) + z(F.col(f"_off{c}"))).cast("bigint")
                for c, name in cnts.items()
            },
        })
        .drop("_pid", *cnts, *[f"_off{c}" for c in acc])
    )
    return out, {id_col: acc["_n"], **{name: acc[c] for c, name in cnts.items()}}


def dense_ids_with_total(
    df: DataFrame, *order_cols: str, id_col: str = "id", num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """:func:`dense_ids` plus the total row count (already known from the
    per-partition count collect — no extra job for callers that need n,
    e.g. percent_rank/cume_dist)."""
    out, totals = dense_ids_with_offsets(
        df, *order_cols, offsets={}, id_col=id_col, num_partitions=num_partitions
    )
    return out, totals[id_col]


def dense_ids(
    df: DataFrame, *order_cols: str, id_col: str = "id", num_partitions: int | None = None
) -> DataFrame:
    """Dense bigint ids 1..n in ``order_cols`` order, computed without a
    single-partition window. Requires ``order_cols`` to be a total order
    (add a tiebreak column if not unique)."""
    out, _ = dense_ids_with_total(
        df, *order_cols, id_col=id_col, num_partitions=num_partitions
    )
    return out


def _floordiv(a: Column, b: int) -> Column:
    """Exact integer floor-division of a non-negative long Column by a
    positive int, without `div` (needs a named column) or bare double
    division (float floor can misround near integer quotients):
    (a - a % b) / b divides exactly, so the IEEE result IS the integer.
    """
    return ((a - a % F.lit(b)) / F.lit(b)).cast("long")


def ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """SQL-standard NTILE(k) computed from a global rank (1..n) with
    pure integer arithmetic — the companion to the two-phase rank
    scheme, so equi-depth tiling never needs a single-partition window.

    NTILE semantics: the first ``n % k`` tiles hold ``n//k + 1`` rows,
    the rest ``n//k`` (NOT the even-spread ``floor((r-1)*k/n)+1``
    closed form, which disagrees whenever k does not divide n).
    """
    q, r = divmod(n, k)
    if q == 0:  # fewer rows than tiles: tile == rank
        return rank.cast("int")
    big = r * (q + 1)  # rows covered by the n%k larger tiles
    return (
        F.when(rank <= F.lit(big), _floordiv(rank - 1, q + 1))
        .otherwise(F.lit(r) + _floordiv(rank - F.lit(big) - 1, q))
        + 1
    ).cast("int")


def ntile_from_rank_col(rank: Column, n: Column, k: int) -> Column:
    """:func:`ntile_from_rank` with the total row count ``n`` as a
    COLUMN instead of a driver-side int (r14) — the same SQL-standard
    NTILE arithmetic expressed lazily, so callers that carry n on each
    row (the lazy grid scheme below) never run an eager count job.
    Integer-exact: q/r/big are bigint expressions; the q == 0 branch
    (fewer rows than tiles) is a per-row CASE arm, and CaseWhen
    evaluates arms lazily so the q-divisor arithmetic never executes
    when q == 0 (ANSI-safe)."""
    nn = n.cast("long")
    q = ((nn - nn % F.lit(k)) / F.lit(k)).cast("long")
    r = nn % F.lit(k)
    big = r * (q + 1)

    def fdiv(a: Column, b: Column) -> Column:
        return ((a - a % b) / b).cast("long")

    return (
        F.when(q == 0, rank.cast("long"))
        .when(rank <= big, fdiv(rank.cast("long") - 1, q + 1) + 1)
        .otherwise(r + fdiv(rank.cast("long") - big - 1, q) + 1)
    ).cast("int")


def rank_histogram_grid_lazy(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    cell_shift: int = 16,
    id_col: str = "_rank",
    n_col: str = "_n",
) -> DataFrame:
    """:func:`rank_histogram_grid` with the offsets AND the total row
    count kept JVM-side (r14): the per-cell counts frame takes a
    running-sum window for the exclusive prefix (``_off``) and an
    unbounded-frame sum for the total (``n_col``), then broadcast-joins
    back — no driver collect, no eager job, ONE action end-to-end for
    callers like window_rank_distribution. Ranks and totals are
    bit-identical to the eager scheme (same integer arithmetic over the
    same grid)."""
    cents = F.floor(F.col(value_col) * 100).cast("long")
    tagged = df.withColumn("_cell", F.shiftright(cents, cell_shift))
    counts = tagged.groupBy("_cell").agg(F.count(F.lit(1)).alias("_cnt"))
    wcum = Window.orderBy("_cell").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("_cell").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = counts.select(
        "_cell",
        F.coalesce(F.sum("_cnt").over(wcum), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(wall).alias(n_col),
    )
    w = Window.partitionBy("_cell").orderBy(value_col, tiebreak_col)
    return (
        tagged.join(F.broadcast(offs), "_cell", "left")
        .withColumn(
            id_col,
            (F.row_number().over(w) + F.coalesce(F.col("_off"), F.lit(0))).cast("bigint"),
        )
        .drop("_cell", "_off")
    )


def rank_histogram_grid(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    cell_shift: int = 16,
    id_col: str = "_rank",
) -> tuple[DataFrame, int]:
    """Global dense rank by ``(value, tiebreak)`` in TWO jobs, for
    bounded-domain numeric values — the cheaper sibling of
    :func:`dense_ids_with_total`.

    The range-repartition scheme above must SAMPLE boundaries (hidden
    extra job) and then PERSIST the shuffled frame, because sampled
    boundaries are action-nondeterministic. Quantizing the value to a
    fixed integer grid removes both: ``cell = cents >> cell_shift`` is
    deterministic, so the count job and the rank job agree by
    construction — no persist, no sampling, no unpersist churn.

      job 1: per-cell counts (map-combined groupBy over <= domain/2^shift
             cells) -> prefix-sum offsets on the driver (bounded rows);
      job 2: per-cell row_number (hash-partitioned window) + offset.

    Trade-off vs dense_ids: cells are fixed-width, so heavily skewed
    value distributions concentrate rows in few cells (range sampling
    adapts; the grid does not) — callers with unbounded/skewed domains
    keep using dense_ids. ``value_col`` rides a cents grid internally;
    ordering by (cell, value, tiebreak) equals (value, tiebreak)
    because floor-to-cents is monotone.
    """
    cents = F.floor(F.col(value_col) * 100).cast("long")
    cell = F.shiftright(cents, cell_shift)
    tagged = df.withColumn("_cell", cell)
    counts = tagged.groupBy("_cell").count().orderBy("_cell").collect()
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r["_cell"], acc))
        acc += r["count"]
    offset_df = tagged.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_cell long, _off long"
    )
    w = Window.partitionBy("_cell").orderBy(value_col, tiebreak_col)
    out = (
        tagged.join(F.broadcast(offset_df), "_cell", "left")
        .withColumn(
            id_col,
            (F.row_number().over(w) + F.coalesce(F.col("_off"), F.lit(0))).cast("bigint"),
        )
        .drop("_cell", "_off")
    )
    return out, acc
