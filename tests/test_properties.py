"""Property-based tests (hypothesis; SURVEY.md §5.4): hours-string
round-trip, resolve_now wraparound, dim-merge invariants."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.functions.hours import hours_ranges
from yelp_data_engineering_pipeline_spark.plans.yelp_queries import resolve_now
from yelp_data_engineering_pipeline_spark.schemas import WEEKDAY_ORDER

_secs = st.integers(min_value=0, max_value=86399 - 59).map(lambda s: s - s % 60)


def _fmt(secs: int) -> str:
    h24, m = divmod(secs, 3600)
    m //= 60
    h12 = h24 % 12 or 12
    ampm = "AM" if h24 < 12 else "PM"
    return f"{h12}:{m:02d} {ampm}"


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(_secs, _secs), min_size=1, max_size=20))
def test_hours_roundtrip_batch(spark, pairs):
    """format(seconds) → parse → same seconds, for arbitrary times and
    multiple concatenated ranges per string (split shifts)."""
    s = "".join(f"{_fmt(o)} - {_fmt(c)}" for o, c in pairs)
    row = spark.range(1).select(hours_ranges(F.lit(s)).alias("r")).first()
    got = [(x["open_time"], x["close_time"]) for x in row["r"]]
    assert got == list(pairs)


@settings(max_examples=300, deadline=None)
@given(
    st.datetimes(
        min_value=datetime(2000, 1, 1),
        max_value=datetime(2040, 12, 31),
    )
)
def test_resolve_now_wraparound(dt):
    now = dt.replace(tzinfo=timezone.utc)
    secs, today, prev = resolve_now(now)
    assert 0 <= secs < 86400
    assert today == now.strftime("%a")
    # prev really is the previous calendar day, including Mon→Sun wrap
    assert prev == (now - timedelta(days=1)).strftime("%a")
    assert {today, prev} <= set(WEEKDAY_ORDER)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12),
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12),
)
def test_dim_merge_invariants(spark, existing_names, incoming_names):
    """merge_dimension: ids dense+unique, existing ids never change,
    every incoming name present."""
    from pyspark.sql import Window

    from yelp_data_engineering_pipeline_spark.operators.dim_merge import merge_dimension

    uniq = sorted(set(existing_names))
    existing = spark.createDataFrame(
        [(i + 1, n) for i, n in enumerate(uniq)] or [(None, None)], "id long, name string"
    ).filter(F.col("id").isNotNull())
    incoming = spark.createDataFrame(
        [(n,) for n in incoming_names] or [(None,)], "name string"
    ).filter(F.col("name").isNotNull())
    merged = merge_dimension(existing, incoming).collect()
    by_name = {r["name"]: r["id"] for r in merged}
    ids = sorted(r["id"] for r in merged)
    assert ids == list(range(1, len(ids) + 1))
    for i, n in enumerate(uniq):
        assert by_name[n] == i + 1
    for n in set(incoming_names):
        assert n in by_name


@settings(max_examples=6, deadline=None)
@given(
    n_tokens=st.integers(min_value=0, max_value=200),
    chunk_size=st.integers(min_value=2, max_value=64),
    data=st.data(),
)
def test_chunking_invariants(spark, n_tokens, chunk_size, data):
    """For arbitrary (n_tokens, chunk_size, overlap): chunks cover every
    token exactly once per window position, consecutive chunks share
    exactly `overlap` tokens, and no chunk exceeds chunk_size."""
    from yelp_data_engineering_pipeline_spark.operators.preptext import chunk_documents

    overlap = data.draw(st.integers(min_value=0, max_value=chunk_size - 1))
    stride = chunk_size - overlap
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        (r["chunk_idx"], r["n_chunk_tokens"])
        for r in chunk_documents(df, "text", "doc_id", chunk_size, overlap).collect()
    )
    if n_tokens == 0:
        assert rows == []
        return
    # chunk count formula
    import math

    expected = 1 + max(0, math.ceil((n_tokens - chunk_size) / stride))
    assert len(rows) == expected
    assert [i for i, _ in rows] == list(range(expected))
    for idx, n in rows:
        assert 1 <= n <= chunk_size
        start = idx * stride  # 0-based first token of this chunk
        assert start < n_tokens  # never an empty window
        assert n == min(chunk_size, n_tokens - start)  # exact coverage
    # last chunk reaches the final token
    last_idx, last_n = rows[-1]
    assert last_idx * stride + last_n == n_tokens


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1 << 20),
            st.integers(min_value=0, max_value=1 << 20),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_zvalue_bijective_on_16bit_pairs(spark, pts):
    """interleave is a bijection on (x%2^16, y%2^16): distinct pairs map
    to distinct z, and the Python de-interleave recovers both coords."""
    from yelp_data_engineering_pipeline_spark.operators.zorder import zvalue

    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select("x", "y", zvalue(F.col("x"), F.col("y")).alias("z")).collect()
    for r in rows:
        xe = sum((((r["z"] >> (2 * b)) & 1) << b) for b in range(16))
        ye = sum((((r["z"] >> (2 * b + 1)) & 1) << b) for b in range(16))
        assert xe == r["x"] % 65536 and ye == r["y"] % 65536


@settings(max_examples=5, deadline=None)
@given(
    st.sets(st.integers(min_value=-(1 << 40), max_value=1 << 40), min_size=1, max_size=40)
)
def test_bloom_never_false_negative(spark, keys):
    from yelp_data_engineering_pipeline_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )

    build = spark.createDataFrame([(k,) for k in keys], "k long")
    words = build_bloom(build, F.col("k"))
    passed = build.filter(bloom_might_contain(F.col("k"), words)).count()
    assert passed == len(keys)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=0,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=59),
)
def test_merge_agg_state_split_invariant(spark, rows, cut):
    """monoid law: any split of the rows into (history, batch) merges
    to the same state as aggregating everything at once."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import merge_agg_state

    if not rows:
        return

    def partial(d):
        return d.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))

    # split deterministically by row index (duplicate rows make
    # limit/subtract splits ambiguous)
    idx = [(i, k, v) for i, (k, v) in enumerate(rows)]
    dfi = spark.createDataFrame(idx, "i int, k int, v long")
    merged = merge_agg_state(
        partial(dfi.filter(F.col("i") < cut)),
        partial(dfi.filter(F.col("i") >= cut)),
        ["k"],
    )
    got = {r["k"]: (r["n"], r["s"]) for r in merged.collect()}
    want = {r["k"]: (r["n"], r["s"]) for r in partial(dfi).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50000), st.integers(0, 20000)), min_size=1, max_size=12
    ),
    st.lists(
        st.tuples(st.integers(0, 50000), st.integers(0, 20000)), min_size=1, max_size=12
    ),
)
def test_interval_overlap_matches_naive(spark, lspec, rspec):
    """Bucketed keyless overlap join == the O(n²) reference answer, for
    arbitrary intervals (including many-bucket spans and duplicates)."""
    from yelp_data_engineering_pipeline_spark.operators.asof import (
        interval_overlap_join,
    )

    lrows = [(i, s, s + d) for i, (s, d) in enumerate(lspec)]
    rrows = [(i, s, s + d) for i, (s, d) in enumerate(rspec)]
    expected = {
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re_ in rrows
        if ls <= re_ and rs <= le
    }
    left = spark.createDataFrame(lrows, "id long, s long, e long")
    right = spark.createDataFrame(rrows, "id long, s long, e long")
    got = {
        (r.l_id, r.r_id)
        for r in interval_overlap_join(left, right).select("l_id", "r_id").collect()
    }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=1, max_size=8))
def test_canonical_text_idempotent(spark, texts):
    """canonical(canonical(x)) == canonical(x): normalization is a
    projection, so the cheap dedup tier is stable under re-runs."""
    from yelp_data_engineering_pipeline_spark.operators.textstats import canonical_text

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        canonical_text(F.col("t")).alias("once")
    ).select("once", canonical_text(F.col("once")).alias("twice")).collect()
    for r in rows:
        assert r.once == r.twice


def test_incremental_pairs_equal_filtered_full_pairs(spark, sf_dir):
    """The incremental band join (new_bands ⋈ all_bands) must find
    EXACTLY the full pair set restricted to any-side-new — i.e. the
    |batch|-scaled path loses nothing vs re-pairing the corpus."""
    from yelp_data_engineering_pipeline_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_lsh_pairs,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("mx"))
    with_mx = docs.crossJoin(F.broadcast(mx))
    inc = {
        (r.doc_a, r.doc_b)
        for r in minhash_incremental_pairs(
            with_mx, "doc_id", "text", F.col("doc_id") * 10 >= F.col("mx") * 9
        ).collect()
    }
    full = minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5)
    mxv = docs.agg(F.max("doc_id")).collect()[0][0]
    expected = {
        (r.doc_a, r.doc_b)
        for r in full.collect()
        if r.doc_a * 10 >= mxv * 9 or r.doc_b * 10 >= mxv * 9
    }
    assert inc == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300), st.integers(-50, 50)),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300), st.integers(-50, 50)),
        min_size=1,
        max_size=25,
    ),
    st.sampled_from(["backward", "forward"]),
    st.sampled_from([None, 30]),
)
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows, direction, tol_s):
    """The distributed union+window as-of must agree with pandas
    merge_asof on every (direction, tolerance) combination. Right
    (key, ts) pairs are deduped — with duplicate timestamps the chosen
    row is tie-ordering-defined in both engines, not semantics."""
    import pandas as pd

    from yelp_data_engineering_pipeline_spark.operators.asof import asof_join

    rdedup = {}
    for k, t, v in rrows:
        rdedup[(k, t)] = v
    left = pd.DataFrame(
        [(k, pd.Timestamp(t, unit="s"), i) for i, (k, t, _) in enumerate(lrows)],
        columns=["k", "ts", "lid"],
    )
    right = pd.DataFrame(
        [(k, pd.Timestamp(t, unit="s"), float(v)) for (k, t), v in rdedup.items()],
        columns=["k", "ts", "val"],
    )
    expected = pd.merge_asof(
        left.sort_values(["ts", "lid"]),
        right.sort_values("ts"),
        on="ts",
        by="k",
        direction=direction,
        tolerance=None if tol_s is None else pd.Timedelta(seconds=tol_s),
    )
    exp = {int(r.lid): (None if pd.isna(r.val) else float(r.val)) for r in expected.itertuples()}

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    got_rows = asof_join(
        ldf,
        rdf,
        on="ts",
        by="k",
        value_cols=["val"],
        direction=direction,
        tolerance_us=None if tol_s is None else tol_s * 1_000_000,
    ).collect()
    got = {int(r.lid): (None if r.val_asof is None else float(r.val_asof)) for r in got_rows}
    assert got == exp


_WORD = st.text(
    alphabet="abcdefABC123.!#",  # alpha + digits + punct: exercises every rule
    min_size=1,
    max_size=12,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(_WORD, min_size=1, max_size=60), min_size=1, max_size=8))
def test_rule_filter_matches_python_model(spark, docs):
    """prep_rule_filter's gates vs an independent pure-Python model over
    arbitrary word soups (stopwords injected so r_stopword can pass)."""
    import re

    from yelp_data_engineering_pipeline_spark.operators.preptext import rule_filter
    from yelp_data_engineering_pipeline_spark.operators.textstats import _STOPWORDS

    texts = []
    for i, words in enumerate(docs):
        if i % 2 == 0:  # half the docs get stopwords sprinkled in
            words = words + list(_STOPWORDS[: i % 5 + 1])
        texts.append(" ".join(words))
    # deterministic edge docs the generator can't produce (min_size=1
    # non-whitespace words): empty / whitespace-only exercise the NULL
    # ratio → False coalesce (ADVICE r4), vertical tab exercises the
    # engine-independent whitespace class (Java \s vs RE2 \s differ on
    # \x0b; the explicit class matches Python's re \s for ASCII).
    texts += ["", "   ", "\t\x0b\f", "a\x0bb cd\x0bef"]

    def model(text):
        ws = [w for w in re.split(r"\s+", text) if w != ""]
        n_tokens = len(ws)
        n_chars = len(text)
        n_alpha = len(re.sub(r"[^a-zA-Z]", "", text))
        n_stop = sum(1 for w in ws if w.lower() in _STOPWORDS)
        awl = n_chars / n_tokens if n_tokens else None
        ar = n_alpha / n_chars if n_chars else None
        r_wc = 30 <= n_tokens <= 10_000
        r_wl = awl is not None and 3.0 <= awl <= 6.0
        r_al = ar is not None and ar >= 0.82
        r_st = n_stop >= 2
        return (n_tokens, r_wc, r_wl, r_al, r_st, r_wc and r_wl and r_al and r_st)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["r_word_count"], r["r_word_len"],
            r["r_alpha"], r["r_stopword"], r["keep"],
        )
        for r in rule_filter(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == model(t), (i, t)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=12),
        min_size=2,
        max_size=20,
    ),
    st.sampled_from([(1, 2), (3, 5), (9, 10)]),
)
def test_prefix_filter_join_is_lossless(spark, word_lists, t):
    """prefix_filter_pairs must emit EXACTLY the brute-force all-pairs
    Jaccard ≥ t set — the prefix filter (AllPairs lemma) prunes
    candidates, never results. Verified against a pure-Python model
    over every generated corpus and three thresholds including the
    boundary-heavy 9/10."""
    from yelp_data_engineering_pipeline_spark.operators.dedup import prefix_filter_pairs

    t_num, t_den = t
    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]

    def sh3(ws):
        return {" ".join(ws[k : k + 3]) for k in range(len(ws) - 2)}

    sets = {i: sh3(ws) for i, ws in enumerate(word_lists)}
    expected = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter * t_den >= t_num * union:
                    expected.add((a, b, inter, union))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.inter_size, r.union_size)
        for r in prefix_filter_pairs(df, "doc_id", "text", t_num, t_den).collect()
    }
    assert got == expected


def test_cascade_tier1_matches_exact_dedup(spark, sf_dir):
    """Cross-entry consistency: the cascade's exact-tier survivor count
    must equal the standalone exact-dedup group count — two independent
    formulations (min-per-text vs md5-fingerprint groupBy) of the same
    set."""
    from yelp_data_engineering_pipeline_spark.operators.dedup import (
        dedup_cascade,
        dedup_exact,
    )

    ledger = {r.tier: r for r in dedup_cascade(spark, sf_dir).collect()}
    n_groups = dedup_exact(spark, sf_dir).count()
    assert ledger["1_exact"].survivors == n_groups
    assert ledger["0_input"].survivors == (
        ledger["1_exact"].survivors + ledger["1_exact"].eliminated
    )
    # monotone: every tier only removes
    assert (
        ledger["0_input"].survivors
        >= ledger["1_exact"].survivors
        >= ledger["2_canonical"].survivors
        >= ledger["3_near_dup"].survivors
    )


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300), st.integers(-50, 50)),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300), st.integers(-50, 50)),
        min_size=1,
        max_size=25,
    ),
    st.sampled_from([None, 30]),
)
def test_asof_nearest_matches_pandas_merge_asof(spark, lrows, rrows, tol_s):
    """direction='nearest' (both-ways closest, ties backward) must
    agree with pandas merge_asof on generated data including equal
    timestamps and tolerance NULLing — completing the
    backward/forward property test above."""
    import pandas as pd

    from yelp_data_engineering_pipeline_spark.operators.asof import asof_nearest_join

    ldf = (
        pd.DataFrame(lrows, columns=["k", "t", "lv"])
        .drop_duplicates(["k", "t"])
        .sort_values(["t", "k"])
        .reset_index(drop=True)
    )
    rdf = (
        pd.DataFrame(rrows, columns=["k", "t", "rv"])
        .drop_duplicates(["k", "t"])
        .sort_values(["t", "k"])
        .reset_index(drop=True)
    )
    ldf["ts"] = pd.to_datetime(ldf["t"], unit="s")
    rdf["ts"] = pd.to_datetime(rdf["t"], unit="s")
    want = pd.merge_asof(
        ldf,
        rdf[["k", "ts", "rv"]],
        on="ts",
        by="k",
        direction="nearest",
        tolerance=None if tol_s is None else pd.Timedelta(seconds=tol_s),
    )
    sl = spark.createDataFrame(ldf[["k", "ts", "lv"]])
    sr = spark.createDataFrame(rdf[["k", "ts", "rv"]].assign(rv=rdf["rv"].astype(float)))
    got = asof_nearest_join(
        sl, sr, on="ts", by="k", value_col="rv",
        tolerance_us=None if tol_s is None else tol_s * 1_000_000,
    )
    # key the comparison by EPOCH SECONDS, not naive datetimes: Spark
    # collects timestamps naive in the driver's SYSTEM zone while the
    # pandas side holds naive UTC wall times — on a non-UTC host the
    # raw keys diverge even though the instants agree (bit the r12
    # full-suite run under TZ=America/New_York)
    import datetime as dt

    got_map = {
        (r.k, int(r.ts.astimezone(dt.timezone.utc).timestamp())): r.rv_asof
        for r in got.collect()
    }
    for _, row in want.iterrows():
        key = (row.k, int(row.ts.timestamp()))
        g = got_map[key]
        if pd.isna(row.rv):
            assert g is None, (key, g)
        else:
            assert g == float(row.rv), (key, g, row.rv)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_star_components_equal_min_propagation(spark, raw_edges):
    """large-star/small-star must label every edge-touched node with
    the same component min as the converged min-propagation — on
    arbitrary generated graphs (self loops, parallel edges, multiple
    components)."""
    from yelp_data_engineering_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "a long, b long")
    base = {
        (r.node, r.label) for r in connected_components(df, "a", "b").collect()
    }
    star_labels, rounds = connected_components_star(df, "a", "b")
    star = {(r.node, r.label) for r in star_labels.collect()}
    assert star == base
    assert rounds <= 15


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.sampled_from("xyz")),
        min_size=1,
        max_size=30,
    )
)
def test_longest_streak_matches_python_model(spark, rows):
    """Islands arithmetic vs a direct linear scan, including ties
    (model applies the same (len desc, value asc, first-island) rule)."""
    from yelp_data_engineering_pipeline_spark.operators.timeseries import longest_streak

    # dedupe (key, order) so both sides see a total order
    seen, data = set(), []
    for k, t, v in rows:
        if (k, t) not in seen:
            seen.add((k, t))
            data.append((k, t, v))
    df = spark.createDataFrame(data, "k long, t long, v string")
    got = {
        r.k: (r.streak_value, r.streak_len)
        for r in longest_streak(df, "k", ("t",), "v").collect()
    }
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, t, v in sorted(data, key=lambda x: (x[0], x[1])):
        by_key[k].append(v)
    for k, vs in by_key.items():
        runs = []  # (start_idx, value, len)
        i = 0
        while i < len(vs):
            j = i
            while j < len(vs) and vs[j] == vs[i]:
                j += 1
            runs.append((i, vs[i], j - i))
            i = j
        best = min(runs, key=lambda r: (-r[2], r[1], r[0]))
        assert got[k] == (best[1], best[2]), (k, got[k], best)


def test_asof_ties_between_duplicate_right_ts_are_deterministic(spark):
    """Two right rows at the SAME (key, ts): the join must pick a
    documented winner (max value for asof_join in either direction;
    the nearest variant's FOLLOWING frame takes the min), not
    whichever duplicate the shuffle ordered last."""
    from yelp_data_engineering_pipeline_spark.operators.asof import (
        asof_join,
        asof_nearest_join,
    )
    import pandas as pd

    l = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": pd.to_datetime([100], unit="s"), "lv": [0]})
    )
    r = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 1],
                "ts": pd.to_datetime([50, 50, 200, 200], unit="s"),
                "rv": [1.0, 2.0, 3.0, 4.0],
            }
        )
    )
    for _ in range(3):  # repeated runs: same answer every time
        back = asof_join(l, r, on="ts", by="k", value_cols=["rv"]).collect()[0]
        assert back.rv_asof == 2.0  # max-value among the ts=50 duplicates
        fwd = asof_join(l, r, on="ts", by="k", value_cols=["rv"], direction="forward").collect()[0]
        # forward runs the same scan over reversed time, so "last in
        # ascending-value order" again means max-value-wins
        assert fwd.rv_asof == 4.0
        near = asof_nearest_join(l, r, on="ts", by="k", value_col="rv").collect()[0]
        assert (near.rv_asof, near.gap_us) == (2.0, 50_000_000)


def test_asof_null_valued_duplicate_matches_oracle_null_order(spark):
    """NULL-order differential for the duplicate-ts tiebreak (ADVICE
    r6): when one of two right rows at the same (key, ts) carries a
    NULL value, Spark's ascending default (NULLS FIRST) makes the max
    NON-NULL value win, but DuckDB's ascending default is NULLS LAST —
    its LAST_VALUE would pick the NULL-valued struct. The contract is
    now explicit (`asc_nulls_first` / `v NULLS FIRST`); this test runs
    BOTH engines on the fixture the advisory said was unexercised."""
    import duckdb
    import pandas as pd

    from yelp_data_engineering_pipeline_spark.operators.asof import asof_join

    l = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": pd.to_datetime([100], unit="s"), "lv": [0]})
    )
    rpdf = pd.DataFrame(
        {
            "k": [1, 1],
            "ts": pd.to_datetime([50, 50], unit="s"),
            "rv": [2.0, None],
        }
    )
    r = spark.createDataFrame(rpdf)
    got = asof_join(l, r, on="ts", by="k", value_cols=["rv"]).collect()[0]
    assert got.rv_asof == 2.0  # max non-null wins, not the NULL duplicate

    con = duckdb.connect()
    con.register("rt", rpdf)
    oracle = con.sql(
        """
        WITH u AS (
          -- integer time grid (the null-order question is about v)
          SELECT 1 AS k, 100 AS ts, 1 AS side, CAST(NULL AS DOUBLE) AS v
          UNION ALL
          SELECT k, 50, 0, rv FROM rt
        ),
        cand AS (
          SELECT side,
                 LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY ts, side, v NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
          FROM u
        )
        SELECT v FROM cand WHERE side = 1
        """
    ).fetchone()[0]
    assert oracle == 2.0  # with NULLS FIRST both engines agree


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=30,
    ),
    st.integers(5, 20),
)
def test_incremental_cc_equals_full_recompute(spark, raw_edges, cut):
    """Star-compressed incremental closure must equal clustering the
    whole edge set at once, for any old/new batch split."""
    from yelp_data_engineering_pipeline_spark.operators.graph import (
        cc_incremental,
        connected_components,
    )

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "a long, b long")
    full = {(r.node, r.label) for r in connected_components(df, "a", "b").collect()}
    old = df.filter((df.a <= cut) & (df.b <= cut))
    new = df.filter((df.a > cut) | (df.b > cut))
    if old.count() == 0:
        inc_labels = connected_components(new, "a", "b")
    else:
        inc_labels = cc_incremental(
            connected_components(old, "a", "b"), new, "a", "b"
        )
    inc = {(r.node, r.label) for r in inc_labels.collect()}
    assert inc == full


# Hour strings with their parsed (open_time, close_time) ranges; None
# marks an unparseable string (routed to hours_rejects).
_HOURS = {
    "11:00 AM - 3:00 PM4:30 PM - 10:00 PM": [(39600, 54000), (59400, 79200)],
    "5:00 PM - 11:00 PM11:00 AM - 2:00 PM": [(61200, 82800), (39600, 50400)],
    "6:00 PM - 2:00 AM (Next day)": [(64800, 7200)],
    "9 AM - 5 PM9 AM - 5 PM": [(32400, 61200), (32400, 61200)],
    "Open 24 hours": [(0, 86399)],
    "Closed": [],
    "see website": None,
}
_NAMES = st.sampled_from(["Pizza", "Bar", "Cafe", None])
_NAME_LISTS = st.one_of(st.none(), st.lists(_NAMES, max_size=5))
_AMENITIES = st.one_of(st.none(), st.lists(st.one_of(st.none(), st.tuples(
    st.sampled_from(["Wi-Fi", "Patio", None]),
    st.sampled_from([True, False, None]))), max_size=5))
_HOUR_ENTRIES = st.one_of(st.none(), st.lists(st.one_of(st.none(), st.tuples(
    st.sampled_from([*WEEKDAY_ORDER, None]),
    st.sampled_from(sorted(_HOURS)))), max_size=6))
_BUSINESS = st.tuples(_HOUR_ENTRIES, _NAME_LISTS, _AMENITIES, _NAME_LISTS, _NAME_LISTS)
# always present: every edge case at once, and businesses with no children
_FIXED = [
    ([("Mon", s) for s in sorted(_HOURS)] + [None, (None, "Closed")],
     ["Bar", "Bar", None, "Pizza"],
     [("Wi-Fi", True), ("Wi-Fi", False), ("Wi-Fi", None), None, (None, True)],
     [None], ["Cafe", "Cafe"]),
    (None, None, None, None, None),
    ([], [], [], [], []),
]


@settings(max_examples=3, deadline=None)
@given(st.lists(_BUSINESS, min_size=8, max_size=16), st.randoms())
def test_child_ids_equal_window_over_full_column_order(spark, drawn, rnd):
    """normalize numbers each child table by the business pass's
    offsets + sorted array positions. Its rows must be exactly the
    explode + inner dim join rows, and its ids exactly a row_number
    over the table's full column order — with duplicate and NULL
    elements, NULL and empty arrays, one amenity listed with both
    is_available values, split shifts, overnight/Closed/24-hour and
    unparseable hour strings, and businesses spread over several range
    partitions."""
    from yelp_data_engineering_pipeline_spark.operators.ids import dense_ids_window
    from yelp_data_engineering_pipeline_spark.plans.normalize import normalize
    from yelp_data_engineering_pipeline_spark.schemas import RESULTS_SCHEMA

    biz = _FIXED + drawn
    order = list(range(len(biz)))
    rnd.shuffle(order)  # bizId order differs from input order
    rows = [
        (f"b{order[i]:03d}", i, f"R{i}", None, None, oh, None, fc, None, None,
         am, hl, st_)
        for i, (oh, fc, am, st_, hl) in enumerate(biz)
    ]
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        t = normalize(spark.createDataFrame(rows, RESULTS_SCHEMA))
        parts = t["business"].select(F.spark_partition_id()).distinct().count()
        got = {n: sorted(map(tuple, t[n].collect())) for n in (
            "open_hours", "business_food_category", "business_search_term",
            "business_highlight", "business_amenity")}
        dims = {d: {r["name"]: r["id"] for r in t[d].collect()} for d in (
            "weekday", "food_category", "search_term", "highlight", "amenity")}
        biz_id = {r["name"]: r["id"] for r in t["business"].collect()}
        rejects = list(map(tuple, t["hours_rejects"].collect()))
        windowed = {n: sorted(map(tuple, dense_ids_window(
            t[n].drop("id"), *t[n].columns[1:]).select(*t[n].columns).collect()))
            for n in got}
    finally:
        spark.conf.set(conf, prev)
        from yelp_data_engineering_pipeline_spark.cache import release_tracked

        release_tracked()
    assert parts >= 2
    assert got == windowed

    want = {n: [] for n in (*got, "hours_rejects")}
    for i, (oh, fc, am, st_, hl) in enumerate(biz):
        b = biz_id[f"R{i}"]
        for table, dim, names in (("business_food_category", "food_category", fc),
                                  ("business_search_term", "search_term", st_),
                                  ("business_highlight", "highlight", hl)):
            want[table] += [(b, dims[dim][x]) for x in names or [] if x is not None]
        want["business_amenity"] += [(b, dims["amenity"][a], v)
                                     for a, v in filter(None, am or [])
                                     if a is not None]
        want["open_hours"] += [(b, dims["weekday"][d], o, c)
                               for d, s in filter(None, oh or [])
                               if d is not None for o, c in _HOURS[s] or []]
        want["hours_rejects"] += [(b, d, s) for d, s in (e or (None, None) for e in oh or [])
                                  if s is None or _HOURS[s] is None]
    got = {n: [r[1:] for r in rs] for n, rs in got.items()}
    got["hours_rejects"] = rejects
    assert {n: sorted(r, key=repr) for n, r in got.items()} == {
        n: sorted(w, key=repr) for n, w in want.items()}


@settings(max_examples=30, deadline=None)
@given(st.text(st.characters(categories=("Nd", "No", "Nl")), min_size=1, max_size=3))
def test_dim_key_resolution_never_raises_on_numeric_text(spark, key):
    """Only decimal strings are dim ids: other numeric characters
    ("²", "½", "Ⅻ") resolve as names, so an unknown one is not found
    instead of an int() crash; decimal digits of any script are ids."""
    from yelp_data_engineering_pipeline_spark.plans.yelp_queries import (
        _resolve_dim_id,
        restaurants_by_category,
        restaurants_by_day,
    )

    dim = _numeric_dim(spark)
    got = _resolve_dim_id(dim, key)
    assert got == (int(key) if key.isdecimal() else None)
    tables = {"food_category": dim, "weekday": dim}
    if not key.isdecimal():
        assert restaurants_by_category(tables, key) == {"error": "Category not found"}
        assert restaurants_by_day(tables, key) == {"error": "Invalid weekday"}


_NUMERIC_DIM = []


def _numeric_dim(spark):
    if not _NUMERIC_DIM:
        _NUMERIC_DIM.append(spark.createDataFrame([(1, "Pizza")], "id long, name string"))
    return _NUMERIC_DIM[0]
