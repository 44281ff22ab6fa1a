"""Stage-3 endpoint query tests: golden differential vs DuckDB running
independently-written SQL over the SAME normalized star tables, plus
the three open-now branches (FIXTURES.md fixture matrix) and pagination
properties (completeness + disjointness)."""

from __future__ import annotations

from datetime import datetime, timezone

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.yelp_fixtures import make_results, write_ndjson
from yelp_data_engineering_pipeline_spark.plans.normalize import normalize
from yelp_data_engineering_pipeline_spark.plans.yelp_queries import (
    restaurants_by_category,
    restaurants_by_day,
    restaurants_open_now,
    resolve_now,
)
from yelp_data_engineering_pipeline_spark.schemas import RESULTS_SCHEMA


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    path = write_ndjson(make_results(120, seed=11), tmp_path_factory.mktemp("yq") / "r.ndjson")
    tables = normalize(spark.read.schema(RESULTS_SCHEMA).json(str(path)))
    out = tmp_path_factory.mktemp("star")
    con = duckdb.connect()
    for name in ("business", "weekday", "food_category", "open_hours", "business_food_category"):
        p = str(out / f"{name}.parquet")
        tables[name].toPandas().to_parquet(p)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return tables, con


def test_by_category_matches_duckdb(star):
    tables, con = star
    res = restaurants_by_category(tables, "Thai", page=1, page_size=10)
    total, first_page = con.execute(
        """
        SELECT COUNT(*),
               (SELECT list(id ORDER BY id) FROM (
                  SELECT b.id FROM business b
                  JOIN business_food_category bfc ON b.id = bfc.business_id
                  JOIN food_category fc ON fc.id = bfc.food_category_id
                  WHERE lower(fc.name) = 'thai' ORDER BY b.id LIMIT 10))
        FROM business b
        JOIN business_food_category bfc ON b.id = bfc.business_id
        JOIN food_category fc ON fc.id = bfc.food_category_id
        WHERE lower(fc.name) = 'thai'
        """
    ).fetchone()
    assert res["total_results"] == total
    got = [r["id"] for r in res["businesses"].collect()]
    assert got == first_page


def test_by_category_id_dispatch(star):
    tables, con = star
    cat_id = con.execute("SELECT id FROM food_category WHERE name = 'Pizza'").fetchone()[0]
    by_name = restaurants_by_category(tables, "pizza")
    by_id = restaurants_by_category(tables, str(cat_id))
    assert by_name["total_results"] == by_id["total_results"]


def test_by_category_unknown(star):
    tables, _ = star
    assert restaurants_by_category(tables, "nosuchfood") == {"error": "Category not found"}


def test_by_day_row_semantics(star):
    """A business with a split shift on Monday appears twice (the
    reference counts open_hours rows, not businesses)."""
    tables, con = star
    res = restaurants_by_day(tables, "Mon", page=1, page_size=10)
    expected_rows = con.execute(
        """
        SELECT COUNT(*) FROM business b
        JOIN open_hours oh ON b.id = oh.business_id
        JOIN weekday w ON w.id = oh.weekday_id
        WHERE lower(w.name) = 'mon'
        """
    ).fetchone()[0]
    assert res["total_results"] == expected_rows
    n_biz = con.execute(
        """
        SELECT COUNT(DISTINCT b.id) FROM business b
        JOIN open_hours oh ON b.id = oh.business_id
        JOIN weekday w ON w.id = oh.weekday_id
        WHERE lower(w.name) = 'mon'
        """
    ).fetchone()[0]
    assert res["total_results"] > n_biz  # split shifts really duplicate rows


def _oracle_open_now(con, now_secs, today, prev):
    return con.execute(
        f"""
        SELECT COUNT(*) FROM business b
        JOIN open_hours oh ON b.id = oh.business_id
        JOIN weekday w ON w.id = oh.weekday_id
        WHERE (w.name = '{today}' AND oh.open_time <= {now_secs} AND oh.close_time > {now_secs})
           OR (w.name = '{today}' AND oh.open_time <= {now_secs} AND oh.close_time < oh.open_time)
           OR (w.name = '{prev}' AND oh.open_time > oh.close_time AND oh.close_time > {now_secs})
        """
    ).fetchone()[0]


# Wed 2026-01-07: 14:00 (normal daytime), 23:30 (overnight started today),
# 00:30 Thu (overnight started yesterday), 04:00 (mostly closed)
@pytest.mark.parametrize(
    "iso",
    [
        "2026-01-07T14:00:00",
        "2026-01-07T23:30:00",
        "2026-01-08T00:30:00",
        "2026-01-08T04:00:00",
    ],
)
def test_open_now_three_branches(star, iso):
    tables, con = star
    now = datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)
    now_secs, today, prev = resolve_now(now)
    res = restaurants_open_now(tables, now)
    assert res["total_results"] == _oracle_open_now(con, now_secs, today, prev)


def test_open_now_time_until_close(star):
    tables, _ = star
    now = datetime.fromisoformat("2026-01-07T23:30:00").replace(tzinfo=timezone.utc)
    res = restaurants_open_now(tables, now, page_size=1000)
    rows = res["restaurants"].collect()
    assert rows, "expected some open businesses at 23:30"
    now_secs = 23 * 3600 + 30 * 60
    for r in rows:
        expected = (
            r["close_time"] + 86400 - now_secs if r["close_time"] < now_secs else r["close_time"] - now_secs
        )
        assert r["time_until_close"] == expected
        assert 0 < r["time_until_close"] <= 86400


def test_pagination_complete_and_disjoint(star):
    """Property (SURVEY §5.4): union of pages = full result; pages
    pairwise disjoint — requires the explicit sort we added."""
    tables, _ = star
    res1 = restaurants_by_day(tables, "Fri", page=1, page_size=10)
    total = res1["total_results"]
    seen = []
    page = 1
    while len(seen) < total:
        r = restaurants_by_day(tables, "Fri", page=page, page_size=10)
        chunk = [(x["id"], x["open_time"], x["close_time"]) for x in r["restaurants"].collect()]
        if not chunk:
            break
        seen.extend(chunk)
        page += 1
    assert len(seen) == total
    assert len(set(seen)) == len(seen)


def test_keyset_route_matches_offset_pages(star):
    """VERDICT r10 next-6: the facade's after_key form walks the same
    pages the OFFSET form produces — page 1 via OFFSET (reference-API
    compatibility), every deeper page by seeking from the previous
    page's last key — across all three endpoints' order shapes."""
    from datetime import datetime, timezone

    tables, _ = star

    def walk(call, order_cols, result_key):
        # OFFSET ground truth
        want, page = [], 1
        while True:
            r = call(page=page, page_size=10)
            chunk = sorted(tuple(x[c] for c in order_cols)
                           for x in r[result_key].collect())
            if not chunk:
                break
            want.append(chunk)
            page += 1
        # keyset walk: page 1 offset, then seek
        got = [want and sorted(
            tuple(x[c] for c in order_cols)
            for x in call(page=1, page_size=10)[result_key].collect())]
        while True:
            if not got[-1]:
                got.pop()
                break
            after = got[-1][-1]
            chunk = sorted(tuple(x[c] for c in order_cols)
                           for x in call(after_key=after, page_size=10)
                           [result_key].collect())
            if not chunk:
                break
            got.append(chunk)
        assert got == want

    walk(lambda **kw: restaurants_by_category(tables, "Thai", **kw),
         ["id"], "businesses")
    walk(lambda **kw: restaurants_by_day(tables, "Fri", **kw),
         ["id", "open_time", "close_time"], "restaurants")
    now = datetime(2024, 5, 3, 12, 30, tzinfo=timezone.utc)
    walk(lambda **kw: restaurants_open_now(tables, now, **kw),
         ["id", "close_time"], "restaurants")


def test_keyset_route_plans_no_partitionless_window(star):
    """The keyset page's PHYSICAL plan: no partitionless Window node
    (the single-task global-sort shape the OFFSET route needs) — the
    seek is a filter + per-partition top-k (TakeOrderedAndProject)."""
    from tests.test_plan_audit import _partitionless_windows

    tables, _ = star
    res = restaurants_by_day(tables, "Fri", after_key=(0, 0, 0),
                             page_size=10)
    plan = (res["restaurants"]._jdf.queryExecution()
            .executedPlan().toString())
    # audit the PAGE plan only: the toString dump inlines the cached
    # star-build subtree below InMemoryRelation, which contains the
    # allowlisted dim-merge id-assignment window (batch-bounded over
    # novel dim values — see test_plan_audit's allowlist note); the
    # pagination route itself must plan zero partitionless windows
    page_plan = plan.split("InMemoryRelation", 1)[0]
    assert _partitionless_windows(page_plan) == 0, page_plan
    assert "TakeOrderedAndProject" in page_plan, page_plan
    # the OFFSET route still takes the window path (compat), and the
    # keyset operator rejects a malformed seek tuple
    import pytest as _pytest

    from yelp_data_engineering_pipeline_spark.operators.pagination import (
        paginate_keyset,
    )

    with _pytest.raises(ValueError):
        paginate_keyset(tables["business"], ["id", "name"], 10,
                        after_key=(1,))


def test_dim_resolution_cache_semantic_key_and_null_names(spark):
    """The name->id cache is keyed weakly on the dim FRAME: repeated
    lookups on one frame hit, distinct frames never share a map (two
    same-schema parquet dims included), an entry dies with its frame,
    and NULL names are skipped rather than crash on .lower()."""
    import gc

    import pandas as pd

    from yelp_data_engineering_pipeline_spark.plans.yelp_queries import (
        _DIM_MAP_CACHE,
        _resolve_dim_id,
    )

    _DIM_MAP_CACHE.clear()
    pdf = pd.DataFrame({"id": [1, 2, 3], "name": ["Monday", None, "Taco"]})
    d1 = spark.createDataFrame(pdf)
    assert _resolve_dim_id(d1, "taco") == 3
    assert _resolve_dim_id(d1, "monday") == 1
    assert _resolve_dim_id(d1, "7") == 7  # digit dispatch, no cache touch
    assert _resolve_dim_id(d1, "missing") is None
    assert len(_DIM_MAP_CACHE) == 1
    # two DIFFERENT parquet-backed dims with IDENTICAL schemas must
    # NOT share maps (the r7 bench-caught collision of a plan-keyed cache)
    import tempfile as _tf

    tdir = _tf.mkdtemp()
    spark.createDataFrame([(1, "Mon")], "id long, name string").write.parquet(
        tdir + "/weekday"
    )
    spark.createDataFrame([(1, "pizza")], "id long, name string").write.parquet(
        tdir + "/cat"
    )
    wk = spark.read.parquet(tdir + "/weekday")
    cat = spark.read.parquet(tdir + "/cat")
    assert _resolve_dim_id(cat, "pizza") == 1
    assert _resolve_dim_id(wk, "mon") == 1  # would be None under collision
    assert _resolve_dim_id(cat, "mon") is None
    assert len(_DIM_MAP_CACHE) == 3
    # bounded by the live frames: entries die with their frames
    for i in range(40):
        di = spark.createDataFrame(
            pd.DataFrame({"id": [i], "name": [f"n{i}"]})
        )
        assert _resolve_dim_id(di, f"n{i}") == i
    del di, wk, cat
    gc.collect()
    assert len(_DIM_MAP_CACHE) == 1
    assert _resolve_dim_id(d1, "taco") == 3
