"""Randomized exactness of the data-skipping plane: for ANY
conjunctive range probe, read_where / count_where / read_point must
equal the unpruned full-scan filter — zone-map pruning is a scan-cost
optimization and may NEVER change results (rows silently dropped by a
wrong bound are the worst failure a skipping layer can have).

The table is built ONCE (session-scoped, ~3k rows, range-clustered so
zones have traction, NULLs in every probed column, a deletion vector
AND a metadata-only-dropped file in force); hypothesis then fuzzes
probes only — each example costs one small scan."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.operators.upsert import (
    ParquetMergeTable,
)


@pytest.fixture(scope="module", params=["inline", "ckpt"])
def skip_table(spark, tmp_path_factory, request):
    """Both manifest layouts: inline full records, and (r10) every
    full record forced out to a COLUMNAR parquet checkpoint so the
    lazy _zone_arrays read path carries the whole property suite."""
    root = str(tmp_path_factory.mktemp("skipprop") / "tbl")
    orig = ParquetMergeTable._CKPT_INLINE_MAX
    if request.param == "ckpt":
        ParquetMergeTable._CKPT_INLINE_MAX = 2
    try:
        t = ParquetMergeTable(spark, root, key="id")
        df = spark.range(0, 3000).selectExpr(
            "id",
            # doubles with NULLs every 17th row
            "case when id % 17 = 0 then null else cast(id as double) * 1.5 "
            "end as f",
            # strings with NULLs every 23rd row
            "case when id % 23 = 0 then null else concat('s', lpad(cast(id "
            "as string), 5, '0')) end as s",
            # timestamps (tz-aware zone plane) with NULLs every 29th row
            "case when id % 29 = 0 then null else "
            "timestamp_seconds(1704067200 + id * 60) end as ts",
        ).repartitionByRange(6, "id").sortWithinPartitions("id")
        t.merge(df)
        # a DV in force (boundary-only range) and a metadata-only drop
        t.delete_where({"id": (700, 820)}, use_deletion_vectors=True)
        t.delete_where({"id": (2995, None)})
        if request.param == "ckpt":
            assert "ckpt" in t._manifest(1)      # layout really forced
    finally:
        ParquetMergeTable._CKPT_INLINE_MAX = orig
    return t


_int_bound = st.one_of(st.none(), st.integers(-100, 3200))
_flt_bound = st.one_of(st.none(),
                       st.floats(min_value=-50.0, max_value=5000.0,
                                 allow_nan=False, allow_infinity=False))
_str_bound = st.one_of(st.none(), st.text("s0123456789", min_size=1,
                                          max_size=7))


@st.composite
def _ranges(draw):
    out = {}
    if draw(st.booleans()):
        out["id"] = (draw(_int_bound), draw(_int_bound))
    if draw(st.booleans()):
        out["f"] = (draw(_flt_bound), draw(_flt_bound))
    if draw(st.booleans()):
        out["s"] = (draw(_str_bound), draw(_str_bound))
    if not out:
        out["id"] = (draw(_int_bound), draw(_int_bound))
    return out


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ranges=_ranges())
def test_read_where_and_count_where_equal_full_scan(skip_table, ranges):
    t = skip_table
    residual = t._range_residual(ranges)
    full = t.read()
    want = (full.filter(residual) if residual is not None else full)
    want_ids = sorted(r.id for r in want.select("id").collect())
    got_ids = sorted(r.id for r in
                     t.read_where(ranges).select("id").collect())
    assert got_ids == want_ids, ranges
    assert t.count_where(ranges) == len(want_ids), ranges


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ranges=_ranges(), col=st.sampled_from(["id", "f", "s", "ts"]))
def test_minmax_where_equals_full_scan_aggregate(skip_table, ranges, col):
    """ADVICE r11 hardened into a property: for ANY conjunctive range
    probe and ANY aggregated column type — including TimestampType,
    whose metadata plane is tz-aware while scan collection is naive
    driver-tz — minmax_where must equal the unpruned filter+aggregate.
    The fixture forces every plane mix: contained files (zone-answered),
    boundary files (scanned), a DV'd range, a dropped file, NULL rows,
    and both manifest layouts."""
    import datetime as dt

    t = skip_table
    residual = t._range_residual(ranges)
    df = t.read()
    if residual is not None:
        df = df.filter(residual)
    r = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).first()
    want_mn, want_mx = r.mn, r.mx
    if col == "ts":
        # Spark collects TimestampType naive in the driver's zone;
        # minmax_where returns aware-UTC consistently
        want_mn = (want_mn.astimezone(dt.timezone.utc)
                   if want_mn is not None else None)
        want_mx = (want_mx.astimezone(dt.timezone.utc)
                   if want_mx is not None else None)
    assert t.minmax_where(col, ranges) == {
        "min": want_mn, "max": want_mx}, (col, ranges)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(st.one_of(st.none(), st.integers(-10, 3200)),
                     min_size=1, max_size=6))
def test_read_point_equals_isin_filter(skip_table, vals):
    t = skip_table
    nn = [v for v in vals if v is not None]
    want = sorted(
        r.id for r in t.read().filter(F.col("id").isin(nn)).collect()
    ) if nn else []
    got = sorted(r.id for r in t.read_point("id", vals).collect())
    assert got == want, vals


# ---- r10: lazy columnar plane parity (VERDICT r9 next-1) ------------
#
# The skipping consumers now classify files from COLUMN ARRAYS read
# lazily out of the checkpoint (_zone_arrays + _mask_*), no longer
# from per-file dicts. These fuzzes pin the array twins to the
# dict-based per-file functions they replaced — semantic parity is
# the whole correctness argument for the rewiring.

def _bare() -> ParquetMergeTable:
    """An uninitialized instance: the codec/mask helpers touch no
    constructor state."""
    return ParquetMergeTable.__new__(ParquetMergeTable)


_scalar = st.one_of(
    st.integers(-10**18, 10**18),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=6),
    st.tuples(st.sampled_from(["tsu", "tsn", "d"]),
              st.text("0123456789-T:.", min_size=1, max_size=10))
    .map(list),
)


@st.composite
def _zone(draw):
    kind = draw(st.integers(0, 3))
    if kind == 0:
        return {}
    if kind == 1:
        return {"all_null": True}
    a, b = draw(_scalar), draw(_scalar)
    z = {"min": a, "max": b}
    if draw(st.booleans()):
        z["nulls"] = draw(st.integers(0, 100))
    return z


@st.composite
def _files_dict(draw):
    n = draw(st.integers(1, 8))
    cols = ["c0", "c1"]
    out = {}
    for i in range(n):
        e = {"rows": draw(st.integers(0, 1000)), "cols": {},
             "bytes": draw(st.integers(0, 10**9))}
        for c in cols:
            if draw(st.booleans()):
                e["cols"][c] = draw(_zone())
        out[f"f{i:02d}.parquet"] = e
    return out


@st.composite
def _probe_ranges(draw):
    out = {}
    for c in ("c0", "c1"):
        if draw(st.booleans()):
            lo = draw(st.one_of(st.none(), _scalar))
            hi = draw(st.one_of(st.none(), _scalar))
            out[c] = (None if isinstance(lo, list) else lo,
                      None if isinstance(hi, list) else hi)
    if not out:
        out["c0"] = (draw(st.integers(-100, 100)), None)
    return out


@settings(max_examples=200, deadline=None)
@given(files=_files_dict(), ranges=_probe_ranges())
def test_mask_range_matches_dict_twins(files, ranges):
    t = _bare()
    keys, rows, _, za = t._arrays_from_dict(files, list(ranges), False)
    keep, cont = t._mask_range(za, len(keys), ranges, True)
    for i, k in enumerate(keys):
        assert keep[i] == t._range_keep(files[k], ranges), (k, ranges)
        assert cont[i] == t._range_contained(files[k], ranges), (k, ranges)


@settings(max_examples=200, deadline=None)
@given(files=_files_dict(),
       vals=st.lists(st.one_of(st.integers(-1000, 1000),
                                st.text(max_size=4)),
                     min_size=1, max_size=4))
def test_mask_point_matches_dict_twin(files, vals):
    t = _bare()
    col = "c0"
    keys, _, _, za = t._arrays_from_dict(files, [col], False)
    norm = [t._stat_norm(x) for x in vals]
    if any(x is None for x in norm):
        return  # caller-level fallback path, covered below
    hit = t._mask_point(za, len(keys), col, norm)

    def dict_hit(zm):
        z = zm["cols"].get(col)
        if not z:
            return True
        if z.get("all_null"):
            return False
        for x in vals:
            nx = t._stat_norm(x)
            if nx is None:
                return True
            below = t._stat_lt(nx, z["min"])
            above = t._stat_lt(z["max"], nx)
            if below is None or above is None:
                return True
            if not below and not above:
                return True
        return False

    for i, k in enumerate(keys):
        assert hit[i] == dict_hit(files[k]), (k, vals)


@settings(max_examples=150, deadline=None)
@given(files=_files_dict())
def test_checkpoint_entry_codec_roundtrip(files):
    """Canonical entries survive encode→decode IDENTICALLY (the
    checkpoint's columnar layout is lossless by construction)."""
    t = _bare()
    for e in files.values():
        enc = t._encode_entry(e)
        assert enc is not None, e
        rows, byts, colz = enc
        back = {"rows": rows, "cols": {}, "bytes": byts}
        for c, (mn, mx, nl, an) in colz.items():
            z = t._decode_zone(mn, mx, nl, an)
            assert z is not None
            back["cols"][c] = z
        assert back == e


def test_checkpoint_entry_codec_rejects_noncanonical():
    """Entries outside the canonical shape must take the xjson
    fallback (encode → None), never a lossy columnar encoding."""
    t = _bare()
    bad = [
        {"cols": {}},                                  # no rows
        {"rows": True, "cols": {}},                    # bool rows
        {"rows": 1, "cols": {}, "extra": 2},           # unknown key
        {"rows": 1, "cols": {"c": {"min": 1}}},        # min w/o max
        {"rows": 1, "cols": {"c": {"all_null": False}}},
        {"rows": 1, "cols": {"c": {"min": True, "max": 2}}},
        {"rows": 1, "cols": {"c": {"min": 1, "max": 2, "nulls": True}}},
        {"rows": 1, "cols": {"c": {"min": float("nan"), "max": 1.0}}},
        {"rows": 1, "cols": {"c": {"min": 1, "max": 2, "x": 3}}},
    ]
    for e in bad:
        assert t._encode_entry({**e, "bytes": 1}) is None, e
    assert t._encode_entry({"rows": 1, "cols": {}}) is None   # no bytes
