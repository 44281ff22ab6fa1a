"""Stage-3 query surface: the three API endpoints as parameterized
DataFrame plans (SURVEY.md §3 E3; reference database/app.py).

Deltas vs the reference (deliberate, documented):
- pagination has an explicit total order (business id, then the
  attribute key) — the reference's LIMIT/OFFSET without ORDER BY is
  nondeterministic in a distributed engine (SURVEY §7 hard point 2);
- ``now`` is a parameter, never wall-clock (§7 hard point 3): callers
  resolve the tz-aware instant to (seconds-of-day, today, yesterday)
  once, driver-side — exactly what the reference computes with
  ``datetime.now(LA_TZ)`` (app.py:151,174);
- row semantics preserved: a business with two qualifying open_hours
  rows appears twice and counts twice (A2 nuance, app.py:195-201).

Scale: the count and the page come from ONE cached join (the reference
re-runs the join per request, app.py:66-82); dims broadcast; the page
fetch is a pushed-down filter + top-k (see operators/pagination.py).
"""

from __future__ import annotations

import weakref
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import WEEKDAY_ORDER

_BUSINESS_COLS = ["id", "name", "website", "phone_number", "address", "price", "health_score"]


def _page(df: DataFrame, order_by: list[str], page: int,
          page_size: int, after_key=None) -> DataFrame:
    """One result page. Two routes (VERDICT r10 next-6):

    - ``after_key`` given (the last row of the previous page as a
      tuple in ``order_by`` order): KEYSET seek —
      ``operators.pagination.paginate_keyset`` — a pushed-down range
      filter + per-partition top-k (TakeOrderedAndProject), fully
      distributed, flat cost at any page depth. The route every
      deep-paging client should take.
    - no ``after_key``: OFFSET semantics via a row_number window,
      kept for page-1 / reference-API compatibility. The window is
      partitionless BY CONSTRUCTION (a global page order), so this
      route is for driver-bound result pages (page_size≈10); the
      facade tests pin that the keyset route plans NO partitionless
      window."""
    if after_key is not None:
        from ..operators.pagination import paginate_keyset

        return paginate_keyset(df, order_by, page_size,
                               after_key=after_key)
    from pyspark.sql import Window

    offset = (page - 1) * page_size
    w = Window.orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > offset) & (F.col("_rn") <= offset + page_size))
        .drop("_rn")
    )


# name→id maps resolved at most once per dimension FRAME: a served
# deployment calls the endpoints per request over one ``tables`` dict
# per published snapshot, and a .first() job per call re-plans a
# ≤7-row lookup every time (VERDICT r5 minor note). Dims are bounded
# (weekday=7, categories≈dozens), so the whole map is driver-cacheable.
# Keyed weakly on the frame object itself: a hit costs no JVM call, and
# an entry dies with its snapshot's frames, so the cache never outgrows
# the live snapshots (a caller that rebuilds its dim frames per request
# just re-resolves — one small collect — and pins nothing).
_DIM_MAP_CACHE: "weakref.WeakKeyDictionary[DataFrame, dict[str, int]]" = (
    weakref.WeakKeyDictionary())


def _resolve_dim_id(dim: DataFrame, key: int | str) -> int | None:
    """Digit-dispatch id/name resolution (P10, app.py:57-64): ints pass
    through; names match case-insensitively (ilike with no wildcards).
    NULL names are skipped (they can never match a requested name).
    Only decimal strings are ids: ``"²".isdigit()`` is True but
    ``int("²")`` raises, so such keys resolve as names."""
    if isinstance(key, int) or (isinstance(key, str) and key.isdecimal()):
        return int(key)
    m = _DIM_MAP_CACHE.get(dim)
    if m is None:
        m = {
            r["name"].lower(): int(r["id"])
            for r in dim.select("name", "id").collect()
            if r["name"] is not None
        }
        _DIM_MAP_CACHE[dim] = m
    return m.get(str(key).lower())


def restaurants_by_category(
    tables: dict[str, DataFrame], category: int | str, page: int = 1,
    page_size: int = 10, after_key=None,
) -> dict:
    """GET /restaurants/category/{category} (app.py:46-91).
    ``after_key=(last_id,)`` switches the page fetch to the keyset
    seek (see :func:`_page`); ``page`` is then echo-only."""
    category_id = _resolve_dim_id(tables["food_category"], category)
    if category_id is None:
        return {"error": "Category not found"}
    joined = (
        tables["business"]
        .join(
            tables["business_food_category"]
            .filter(F.col("food_category_id") == category_id)
            .select("business_id"),
            F.col("id") == F.col("business_id"),
        )
        .select(*_BUSINESS_COLS)
        .cache()
    )
    total = joined.count()
    return {
        "page": page,
        "page_size": page_size,
        "total_results": total,
        "businesses": _page(joined, ["id"], page, page_size,
                            after_key=after_key),
    }


def restaurants_by_day(
    tables: dict[str, DataFrame], weekday: int | str, page: int = 1,
    page_size: int = 10, after_key=None,
) -> dict:
    """GET /restaurants/day/{weekday} (app.py:94-142). Row semantics:
    one output row per qualifying open_hours row (split shifts appear
    twice, as in the reference).
    ``after_key=(last_id, last_open_time, last_close_time)`` switches
    the page fetch to the keyset seek (see :func:`_page`)."""
    weekday_id = _resolve_dim_id(tables["weekday"], weekday)
    if weekday_id is None:
        return {"error": "Invalid weekday"}
    joined = (
        tables["business"]
        .join(
            tables["open_hours"]
            .filter(F.col("weekday_id") == weekday_id)
            .select("business_id", "open_time", "close_time"),
            F.col("id") == F.col("business_id"),
        )
        .select(*_BUSINESS_COLS, "open_time", "close_time")
        .cache()
    )
    total = joined.count()
    return {
        "weekday": weekday,
        "page": page,
        "page_size": page_size,
        "total_results": total,
        "restaurants": _page(joined, ["id", "open_time", "close_time"],
                             page, page_size, after_key=after_key),
    }


def resolve_now(now: datetime) -> tuple[int, str, str]:
    """Tz-aware instant → (seconds-of-day, today, yesterday) — the
    driver-side equivalent of app.py:151,174 with `now` as a parameter."""
    secs = now.hour * 3600 + now.minute * 60 + now.second
    today = now.strftime("%a")
    prev = WEEKDAY_ORDER[(WEEKDAY_ORDER.index(today) - 1) % 7]
    return secs, today, prev


def open_now_predicate(now_secs: int, today_id: int, prev_id: int) -> Column:
    """The three-branch point-in-interval predicate (P9,
    app.py:177-193) on seconds-of-day encoded columns.

    The disjunction contains column-to-column comparisons (overnight
    rollover: ``close < open``), which no columnar source can push, so
    the IMPLIED dispatch ``weekday_id IN (today, prev)`` is added as a
    redundant conjunct: it translates to a parquet In filter, pruning
    row groups / partitions to the two relevant weekdays at the scan
    while the exact disjunction stays as the residual (plan-pinned by
    tests/test_plans.py::test_open_now_plan_shape)."""
    o, c, w = F.col("open_time"), F.col("close_time"), F.col("weekday_id")
    normal = (w == today_id) & (o <= now_secs) & (c > now_secs)
    overnight_today = (w == today_id) & (o <= now_secs) & (c < o)
    overnight_prev = (w == prev_id) & (o > c) & (c > now_secs)
    return w.isin(today_id, prev_id) & (
        normal | overnight_today | overnight_prev
    )


def time_until_close_secs(now_secs: int) -> Column:
    """F8: close is tomorrow when it already passed today (overnight
    rollover, app.py:217-226) — expressed in built-ins, no UDF."""
    c = F.col("close_time")
    return F.when(c < now_secs, c + 86400 - now_secs).otherwise(c - now_secs).cast("int")


def restaurants_open_now(
    tables: dict[str, DataFrame], now: datetime, page: int = 1,
    page_size: int = 10, after_key=None,
) -> dict:
    """GET /restaurants/now (app.py:165-233), ``now`` parameterized.
    ``after_key=(last_id, last_close_time)`` switches the page fetch
    to the keyset seek (see :func:`_page`)."""
    now_secs, today, prev = resolve_now(now)
    weekday = tables["weekday"]
    today_id = _resolve_dim_id(weekday, today)
    prev_id = _resolve_dim_id(weekday, prev)
    if today_id is None:
        raise ValueError(f"Weekday {today} not found in the database!")
    if prev_id is None:
        prev_id = -1  # yesterday absent from the dim → branch 3 matches nothing
    joined = (
        tables["business"]
        .join(
            tables["open_hours"]
            .filter(open_now_predicate(now_secs, today_id, prev_id))
            .select("business_id", "close_time"),
            F.col("id") == F.col("business_id"),
        )
        .select(*_BUSINESS_COLS, "close_time")
        .withColumn("time_until_close", time_until_close_secs(now_secs))
        .cache()
    )
    total = joined.count()
    return {
        "page": page,
        "page_size": page_size,
        "total_results": total,
        "restaurants": _page(joined, ["id", "close_time"], page,
                             page_size, after_key=after_key),
    }
