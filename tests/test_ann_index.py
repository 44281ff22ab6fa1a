"""IvfIndex: the persistent, change-feed-maintained IVF ANN index
(VERDICT r10 next-4).

Invariants pinned here:
- nprobe = n_cells search is EXACT (probing every cell degenerates to
  verified brute force — same guarantee the per-query topk_ivf tests
  pin);
- an incremental refresh() leaves the assignment table EQUAL to
  assigning the corpus head from scratch against the same codebook
  (incremental ≡ full, per churned commit);
- deletes leave the index; updates re-assign;
- the feed-gap fallback (retention outran the sync cursor) restores
  the same equality without touching the codebook;
- split_cell() clears the skew recommendation, moves only the hot
  cell's members, and preserves search exactness at full probe.

The ≥20-batch recall soak lives with the other aging runs in
tests/test_soak.py.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.operators.ann_index import (
    IvfIndex,
)
from yelp_data_engineering_pipeline_spark.operators.similarity import (
    topk_bruteforce,
)
from yelp_data_engineering_pipeline_spark.operators.upsert import (
    ParquetMergeTable,
)

D = 8
SCHEMA = "vec_id long, embedding array<double>"


def _vec(rng: random.Random, cluster: int, noise: float = 0.2) -> list:
    return [(1.0 if i == cluster % D else 0.0)
            + rng.uniform(-noise, noise) for i in range(D)]


def _rows(rng: random.Random, ids: list[int]) -> list[tuple]:
    return [(i, _vec(rng, i % D)) for i in ids]


def _corpus(spark, root: str, n: int = 64) -> ParquetMergeTable:
    rng = random.Random(7)
    t = ParquetMergeTable(spark, root, key="vec_id")
    t.merge(spark.createDataFrame(_rows(rng, list(range(n))), SCHEMA))
    return t


def _assign_sets(index: IvfIndex) -> dict[int, int]:
    return {r.vec_id: r.cell
            for r in index.assign.read().select("vec_id", "cell")
            .collect()}


def _result_rows(df) -> list[tuple]:
    """A search result as sorted (query_id, neighbor_id, cos_sim, rk)
    tuples, NaN made comparable."""
    return sorted(
        (r.query_id, r.neighbor_id,
         "NaN" if r.cos_sim is not None and math.isnan(r.cos_sim)
         else r.cos_sim, r.rk)
        for r in df.collect())


def _is_resident(df) -> bool:
    """True when a search answered from the driver-resident posting
    lists (a local relation) rather than the distributed plan."""
    return df._jdf.queryExecution().analyzed().toString().startswith(
        "LocalRelation")


def _fresh_assign(spark, index: IvfIndex,
                  corpus: ParquetMergeTable) -> dict[int, int]:
    cents = index._cents_from_meta(index.meta())
    df = index._assigned(corpus.read(), cents)
    return {r.vec_id: r.cell
            for r in df.select("vec_id", "cell").collect()}


def test_assignment_matches_window_reference_bit_identical(spark, tmp_path):
    """The r12 map-side argmax assignment must reproduce the r11
    broadcast-join + row_number formulation EXACTLY (same sims, same
    (cent_sim DESC, cell ASC) tiebreak) — the refactor is a plan-shape
    change, never a semantics change. The reference implementation
    below IS the removed r11 shape, kept here as the oracle."""
    from pyspark.sql import Window

    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        cosine,
    )

    corpus = _corpus(spark, str(tmp_path / "corp"), n=96)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    cents = ix._cents_from_meta(ix.meta())

    df = corpus.read()
    got = {(r.vec_id, r.cell)
           for r in ix._assigned(df, cents).select("vec_id", "cell").collect()}

    cdf = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in sorted(cents.items())],
        "cell long, cent_emb array<double>")
    scored = (df.join(F.broadcast(cdf))
              .select("vec_id", "cell",
                      F.round(cosine(F.col("embedding"),
                                     F.col("cent_emb")), 4)
                      .alias("cent_sim")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cent_sim").desc(), F.col("cell"))
    want = {(r.vec_id, r.cell)
            for r in scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).select("vec_id", "cell").collect()}
    assert got == want


def test_assignment_fuzz_matches_window_reference(spark):
    """Hypothesis twin of the fixed-fixture equivalence: ivf_assign's
    argmax cell AND its nprobe ranking must match two independent
    references — the removed r11 window formulation (row_number over
    cent_sim DESC, cell ASC) and the resident route's NumPy kernel
    (``_cos_round4`` + ``_rank``, tests/ivf_ref.py). Populations
    include 4th-decimal ties between cells (centroids a tiny
    perturbation apart, whose rounded sims collide or differ in the
    last place), duplicated centroids, vectors equal to a centroid,
    1-cell codebooks and nprobe >= cells. Zero-norm vectors are
    excluded by construction — their cosine has no meaningful cell."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from tests.ivf_ref import numpy_cells
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        cosine, ivf_assign,
    )

    unit = st.floats(min_value=-1.0, max_value=1.0,
                     allow_nan=False, allow_infinity=False)

    @st.composite
    def corpus_and_cents(draw):
        dim = draw(st.integers(2, 6))
        vec = st.lists(unit, min_size=dim, max_size=dim).filter(
            lambda v: sum(x * x for x in v) > 1e-6)
        cents = draw(st.lists(vec, min_size=1, max_size=5))
        if draw(st.booleans()):
            cents.append(list(cents[0]))      # duplicated centroid: ties
        if draw(st.booleans()):               # 4th-decimal near-ties
            eps = draw(st.sampled_from([1e-5, 5e-5, 1e-4, 5e-4]))
            j = draw(st.integers(0, dim - 1))
            near = list(cents[-1])
            near[j] += eps
            cents.append(near)
        vecs = draw(st.lists(vec, min_size=1, max_size=12))
        vecs.extend(list(c) for c in cents[:2])   # exact-hit ties too
        nprobe = draw(st.integers(1, len(cents) + 2))
        return dict(enumerate(cents)), vecs, nprobe

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(cc=corpus_and_cents())
    @example(cc=({0: [0.6, 0.8]}, [[1.0, 0.0], [0.0, -1.0]], 3))
    @example(cc=({0: [1.0, 1e-3], 1: [1.0, 0.0], 2: [1.0, 0.0],
                  3: [1.0, 2e-2]},
                 [[1.0, 0.0], [1.0, 1e-3], [1.0, 1.5e-2], [-1.0, 0.5]], 4))
    def run(cc):
        cents, vecs, nprobe = cc
        rows = list(enumerate(vecs))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r.vec_id: r.cell for r in ivf_assign(df, cents).collect()}
        probed = {r.vec_id: list(r.cell) for r in
                  ivf_assign(df, cents, nprobe=nprobe).collect()}
        cdf = spark.createDataFrame(
            [(int(c), [float(x) for x in v])
             for c, v in sorted(cents.items())],
            "cell long, cent_emb array<double>")
        scored = (df.join(F.broadcast(cdf))
                  .select("vec_id", "cell",
                          F.round(cosine(F.col("embedding"),
                                         F.col("cent_emb")), 4)
                          .alias("s")))
        w = Window.partitionBy("vec_id").orderBy(
            F.col("s").desc(), F.col("cell"))
        ranked = sorted(
            (r.vec_id, r._rn, r.cell) for r in
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= nprobe).collect())
        want_probe: dict[int, list[int]] = {}
        for vid, _, cell in ranked:
            want_probe.setdefault(vid, []).append(cell)
        want = {vid: cells[0] for vid, cells in want_probe.items()}
        assert got == want, (cents, vecs)
        assert got == numpy_cells(rows, cents), (cents, vecs)
        assert probed == want_probe, (cents, vecs, nprobe)
        assert probed == numpy_cells(rows, cents, nprobe), (cents, vecs)

    run()


def test_build_and_full_probe_is_exact(spark, tmp_path):
    corpus = _corpus(spark, str(tmp_path / "corp"))
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    q = corpus.read().filter(F.col("vec_id") < 6)
    exact = {(r.query_id, r.rk): r.neighbor_id
             for r in topk_bruteforce(q, corpus.read(), 5).collect()}
    got = {(r.query_id, r.rk): r.neighbor_id
           for r in ix.search(q, 5, nprobe=8).collect()}
    assert got == exact


def test_refresh_incremental_equals_full_reassign(spark, tmp_path):
    corpus = _corpus(spark, str(tmp_path / "corp"))
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    rng = random.Random(11)
    # churn commit: 8 inserts, 4 updates (perturbed in-cluster), 3
    # deletes via the merge delete flag
    ins = [(100 + i, _vec(rng, i % D), False) for i in range(8)]
    upd = [(i, _vec(rng, i % D), False) for i in (1, 2, 3, 4)]
    dele = [(i, None, True) for i in (10, 11, 12)]
    corpus.merge(
        spark.createDataFrame(ins + upd + dele, SCHEMA + ", _del boolean"),
        delete_col="_del")
    rep = ix.refresh(corpus)
    assert rep["versions"] == 1 and rep["rows"] == 15
    assert _assign_sets(ix) == _fresh_assign(spark, ix, corpus)
    assert 10 not in _assign_sets(ix)
    # idempotent: nothing new to sync
    rep2 = ix.refresh(corpus)
    assert rep2["versions"] == 0
    assert ix.meta()["full_builds"] == 1


def test_refresh_multi_version_latest_change_wins(spark, tmp_path):
    corpus = _corpus(spark, str(tmp_path / "corp"), n=32)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=4)
    rng = random.Random(13)
    # three commits before one refresh: key 5 is updated then deleted;
    # key 200 inserted then updated — latest change per key must win
    corpus.merge(spark.createDataFrame(
        [(5, _vec(rng, 1)), (200, _vec(rng, 2))], SCHEMA))
    corpus.merge(spark.createDataFrame(
        [(200, _vec(rng, 3))], SCHEMA))
    corpus.merge(spark.createDataFrame(
        [(5, None, True)], SCHEMA + ", _del boolean"), delete_col="_del")
    rep = ix.refresh(corpus)
    assert rep["versions"] == 3
    state = _assign_sets(ix)
    assert 5 not in state and 200 in state
    assert state == _fresh_assign(spark, ix, corpus)


def test_refresh_feed_gap_falls_back_to_reassign(spark, tmp_path):
    corpus = _corpus(spark, str(tmp_path / "corp"))
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    rng = random.Random(17)
    for b in range(3):
        corpus.merge(spark.createDataFrame(
            _rows(rng, [300 + 10 * b + j for j in range(5)]), SCHEMA))
    corpus.vacuum(keep_last_n=1, stage_grace_seconds=0)
    rep = ix.refresh(corpus)
    assert rep.get("reassigned_all") is True
    m = ix.meta()
    assert m["full_builds"] == 1 and m["full_reassigns"] == 1
    assert _assign_sets(ix) == _fresh_assign(spark, ix, corpus)


def _mix_vec(rng: random.Random, noise: float = 0.05) -> list:
    """A hot-blob direction 0.8·e0 + 0.6·e4: lands in cluster 0's cell
    (cos ≈ 0.8) yet is separable from it by cosine — the drift shape a
    split can actually fix (a blob COLINEAR with its cell's centroid
    cannot be split by any cosine codebook)."""
    base = [0.0] * D
    base[0], base[4] = 0.8, 0.6
    return [x + rng.uniform(-noise, noise) for x in base]


def test_skew_split_clears_recommendation_and_stays_exact(spark, tmp_path):
    corpus = _corpus(spark, str(tmp_path / "corp"), n=32)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    rng = random.Random(19)
    # pile a hot drifted blob into cluster 0's cell past the bound
    corpus.merge(spark.createDataFrame(
        [(500 + i, _mix_vec(rng)) for i in range(120)],
        SCHEMA))
    ix.refresh(corpus)
    plan = ix.maintenance_plan(skew_bound=2.0)
    assert plan["actions"], plan
    hot = int(plan["actions"][0].split("(")[1].rstrip(")"))
    before = _assign_sets(ix)
    new_cell = ix.split_cell(hot)
    after = _assign_sets(ix)
    # only the hot cell's members may move, and only to {hot, new}
    for k, c in after.items():
        if before[k] != hot:
            assert c == before[k]
        else:
            assert c in (hot, new_cell)
    assert any(c == new_cell for c in after.values())
    plan2 = ix.maintenance_plan(skew_bound=2.0)
    assert f"split_cell({hot})" not in plan2["actions"]
    assert plan2["splits"] == 1
    # full-probe search is still exact with the grown codebook
    q = corpus.read().filter(F.col("vec_id") < 4)
    exact = {(r.query_id, r.rk): r.neighbor_id
             for r in topk_bruteforce(q, corpus.read(), 5).collect()}
    got = {(r.query_id, r.rk): r.neighbor_id
           for r in ix.search(q, 5, nprobe=plan2["n_cells"]).collect()}
    assert got == exact


def _assign_bytes(ix: IvfIndex) -> int:
    t = ix.assign
    _, _, bytes_a, _ = t._zone_arrays(t.current_version(), [],
                                      with_bytes=True, with_rows=False)
    return sum(b for b in bytes_a if isinstance(b, int))


def test_sq8_store_shrinks_index_and_holds_recall(spark, tmp_path):
    """r12 store="sq8": the assignment table keeps int8 codes instead
    of raw doubles (array<tinyint> — parquet bit-packs far below the
    float bytes; the candidate-scan working set is what search pays
    for at 100 TB), search scores the DEQUANTIZED cosine (approximate
    — recall floor pinned, not bit-equality), and the whole
    maintenance loop (refresh with deletes, split, reopened handles)
    keeps working over the quantized storage. Cell ASSIGNMENT always
    uses the raw vector, so sq8 and float indexes hold identical
    cells."""
    rng = random.Random(13)
    corpus = _corpus(spark, str(tmp_path / "c"), n=400)
    f_ix = IvfIndex(spark, str(tmp_path / "f"))
    f_ix.build(corpus, n_centroids=8)
    s_ix = IvfIndex(spark, str(tmp_path / "s"), store="sq8")
    s_ix.build(corpus, n_centroids=8)

    cols = set(s_ix.assign.read().columns)
    assert "q8" in cols and "embedding" not in cols
    assert s_ix.meta()["store"] == "sq8"
    # same cells as the float index (assignment is full-precision)
    assert _assign_sets(s_ix) == _assign_sets(f_ix)
    # the quantized table is REALLY smaller — measured at a REAL
    # dimensionality (the D=8 behavioral fixture is all parquet
    # overhead; at D=64 the measured ratio is ~0.17, asserted <0.5)
    wide = [(i, [rng.uniform(-1, 1) for _ in range(64)])
            for i in range(2000)]
    wc = ParquetMergeTable(spark, str(tmp_path / "wc"), key="vec_id")
    wc.merge(spark.createDataFrame(wide, SCHEMA))
    wf = IvfIndex(spark, str(tmp_path / "wf"))
    wf.build(wc, n_centroids=8)
    ws = IvfIndex(spark, str(tmp_path / "ws"), store="sq8")
    ws.build(wc, n_centroids=8)
    fb, sb = _assign_bytes(wf), _assign_bytes(ws)
    assert sb < 0.5 * fb, (sb, fb)

    # full-probe recall vs exact brute force (approximate scores —
    # floor, not equality; measured 1.0 on this fixture)
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        recall_at_k,
    )

    q = corpus.read().filter(F.col("vec_id") < 6)
    exact = topk_bruteforce(q, corpus.read(), 5)
    rec = float(recall_at_k(exact, s_ix.search(q, 5, nprobe=8), 5)
                .agg(F.avg("recall_at_5")).first()[0])
    assert rec >= 0.95, rec

    # the maintenance loop runs over quantized storage: churn with
    # deletes, strictly-incremental refresh, membership still exact
    ins = [(1000 + i, _vec(rng, i % D), False) for i in range(12)]
    dele = [(i, None, True) for i in (3, 4)]
    corpus.merge(spark.createDataFrame(
        ins + dele, SCHEMA + ", _del boolean"), delete_col="_del")
    rep = s_ix.refresh(corpus)
    assert rep["versions"] == 1 and rep["rows"] == 14
    state = _assign_sets(s_ix)
    assert 3 not in state and 1005 in state
    assert state == _fresh_assign(spark, s_ix, corpus)

    # a REOPENED handle (constructor default store) follows the meta
    # record, and split_cell works over the dequantized view
    reopened = IvfIndex(spark, str(tmp_path / "s"))
    plan = reopened.maintenance_plan(skew_bound=0.5)
    if plan["actions"]:
        hot = int(plan["actions"][0].split("(")[1].rstrip(")"))
        before = _assign_sets(reopened)
        new_cell = reopened.split_cell(hot, reseed="2means")
        after = _assign_sets(reopened)
        for kk, c in after.items():
            assert c == before[kk] or (before[kk] == hot
                                       and c in (hot, new_cell))


def test_refresh_crash_between_merge_and_meta_repairs(spark, tmp_path):
    """The crash-safety claim made by refresh()/the streaming hook:
    dying AFTER the assignment merge but BEFORE the sync-cursor write
    leaves the index one commit behind; the NEXT refresh replays that
    commit's churn through the feed and the keyed merge converges to
    the exact same state a clean run reaches — no drift, no double
    apply, no full rebuild."""
    rng = random.Random(47)
    corpus = _corpus(spark, str(tmp_path / "c"), n=48)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)

    corpus.merge(spark.createDataFrame(
        [(i, v, False) for i, v in _rows(rng, [200 + j for j in range(10)])]
        + [(7, None, True)],
        SCHEMA + ", _del boolean"), delete_col="_del")

    orig = ix._write_meta
    calls = {"n": 0}

    def dying(m):
        calls["n"] += 1
        raise RuntimeError("injected crash before meta write")

    ix._write_meta = dying
    try:
        with pytest.raises(RuntimeError, match="injected"):
            ix.refresh(corpus)
    finally:
        ix._write_meta = orig
    assert calls["n"] == 1
    # assignments landed, cursor did not: the index is 'one behind'
    m = ix.meta()
    assert m["synced_version"] < corpus.current_version()
    assert 205 in _assign_sets(ix) and 7 not in _assign_sets(ix)

    # the next refresh REPLAYS the same commit idempotently and
    # advances the cursor; state equals a from-scratch assignment
    rep = ix.refresh(corpus)
    assert rep["versions"] == 1 and rep["rows"] == 11
    assert ix.meta()["synced_version"] == corpus.current_version()
    assert _assign_sets(ix) == _fresh_assign(spark, ix, corpus)
    assert ix.meta()["full_builds"] == 1
    # and it stays strictly incremental afterwards
    corpus.merge(spark.createDataFrame(_rows(rng, [300]), SCHEMA))
    rep2 = ix.refresh(corpus)
    assert rep2["versions"] == 1 and rep2["rows"] == 1
    assert _assign_sets(ix) == _fresh_assign(spark, ix, corpus)


def test_replicated_index_serves_identical_searches(spark, tmp_path):
    """r12 replicate_index: assignment table through the change feed,
    codebook/meta copied at the sync point — the replica must answer
    EVERY search identically to the primary after each sync, across
    churn (incl. deletes) and an optimize() on the primary."""
    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        replicate_index,
    )

    rng = random.Random(41)
    corpus = _corpus(spark, str(tmp_path / "c"), n=96)
    primary = IvfIndex(spark, str(tmp_path / "p"))
    primary.build(corpus, n_centroids=8)
    rep_root = str(tmp_path / "r")
    ckpt = str(tmp_path / "ck")

    def same_answers():
        q = corpus.read().filter(F.col("vec_id") % 17 == 0)
        a = {(r.query_id, r.rk): (r.neighbor_id, r.cos_sim)
             for r in primary.search(q, 5, nprobe=4).collect()}
        b = {(r.query_id, r.rk): (r.neighbor_id, r.cos_sim)
             for r in replica.search(q, 5, nprobe=4).collect()}
        assert a == b and a

    replica = replicate_index(spark, primary, rep_root, ckpt)
    assert replica.meta() == primary.meta()
    same_answers()

    # churn the corpus, maintain the PRIMARY, re-sync the replica
    corpus.merge(spark.createDataFrame(
        [(i, v, False) for i, v in _rows(rng, [500 + j for j in range(20)])]
        + [(5, None, True)],
        SCHEMA + ", _del boolean"),
        delete_col="_del")
    primary.refresh(corpus)
    primary.optimize(target_files=8)
    replica = replicate_index(spark, primary, rep_root, ckpt)
    assert replica.meta()["synced_version"] == \
        primary.meta()["synced_version"]
    state = {r.vec_id for r in
             replica.assign.read().select("vec_id").collect()}
    assert 5 not in state and 510 in state
    same_answers()


def test_sq8_rerank_restores_exact_scores(spark, tmp_path):
    """r12 refine stage: search(rerank=corpus) re-scores the
    quantized index's top-4k candidates against the RAW corpus
    vectors (read_point key-lookup — the bounded candidate set prunes
    the corpus scan), so an sq8 index returns EXACT cosine values and,
    at full probe with headroom, the exact brute-force top-k."""
    corpus = _corpus(spark, str(tmp_path / "c"), n=300)
    ix = IvfIndex(spark, str(tmp_path / "ix"), store="sq8")
    ix.build(corpus, n_centroids=8)
    q = corpus.read().filter(F.col("vec_id") < 6)
    want = {(r.query_id, r.rk): (r.neighbor_id, r.cos_sim)
            for r in topk_bruteforce(q, corpus.read(), 5).collect()}
    got = {(r.query_id, r.rk): (r.neighbor_id, r.cos_sim)
           for r in ix.search(q, 5, nprobe=8,
                              rerank=corpus).collect()}
    assert got == want
    # without rerank the sq8 scores are approximate (dequantized) —
    # some value differs even when the ranking holds
    approx = {(r.query_id, r.rk): r.cos_sim
              for r in ix.search(q, 5, nprobe=8).collect()}
    assert any(approx[kk] != want[kk][1] for kk in approx)


def test_filtered_search_exact_among_matching_rows(spark, tmp_path):
    """r12 filtered ANN: search(where=) must return the best k AMONG
    MATCHING rows — not a post-filtered global top-k, which under-fills
    whenever fewer than k of the global winners match. Oracle: brute
    force over the pre-filtered corpus at full probe; at narrow probe
    the filtered result must be a subset of the filtered cells'
    matching members."""
    rng = random.Random(31)
    rows = [(i, _vec(rng, i % D), i % 3) for i in range(200)]
    corpus = ParquetMergeTable(spark, str(tmp_path / "c"), key="vec_id")
    corpus.merge(spark.createDataFrame(
        rows, SCHEMA + ", lang long"))
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    assert "lang" in ix.assign.read().columns   # passthrough carried

    q = corpus.read().filter(F.col("vec_id") < 5)
    got = {(r.query_id, r.rk): r.neighbor_id
           for r in ix.search(q, 5, nprobe=8,
                              where="lang = 1").collect()}
    filtered = corpus.read().filter(F.col("lang") == 1)
    want = {(r.query_id, r.rk): r.neighbor_id
            for r in topk_bruteforce(q, filtered, 5).collect()}
    assert got == want and got
    # every returned neighbor satisfies the predicate — and there are
    # a full k of them per query (no post-filter under-fill)
    langs = {r.vec_id: r.lang for r in corpus.read().collect()}
    assert all(langs[n] == 1 for n in got.values())
    assert len(got) == 5 * 5
    # Column-typed predicate routes identically
    got2 = {(r.query_id, r.rk): r.neighbor_id
            for r in ix.search(q, 5, nprobe=8,
                               where=F.col("lang") == 1).collect()}
    assert got2 == got


def test_cdc_stream_maintains_index_in_loop(spark, tmp_path):
    """r12: run_cdc_upsert_stream(ann_index=) builds the index on the
    seed batch and refreshes it inside every later foreachBatch — the
    searchable index trails the table by zero batches after a drain,
    with exactly ONE full build across the whole stream, and a second
    drain (new files, same checkpoint) keeps the invariant."""
    import json as _json

    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_cdc_upsert_stream,
    )

    rng = random.Random(7)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_batch(name, ids, ts, deletes=()):
        import os as _os

        with open(in_dir / name, "w") as f:
            for i in ids:
                f.write(_json.dumps({
                    "vec_id": i, "ts": ts,
                    "embedding": _vec(rng, i % D),
                    "deleted": False}) + "\n")
            for i in deletes:
                f.write(_json.dumps({
                    "vec_id": i, "ts": ts, "embedding": None,
                    "deleted": True}) + "\n")
        # the file source orders by modification time; sub-tick writes
        # tie and the batch ORDER flips run to run — pin it (the
        # deletes must land after their inserts for the seed-batch
        # assertion to mean anything)
        t = 1_700_000_000 + ts * 60
        _os.utime(in_dir / name, (t, t))

    stream_schema = ("vec_id long, ts long, "
                     "embedding array<double>, deleted boolean")
    write_batch("b0.ndjson", list(range(32)), 0)
    write_batch("b1.ndjson", list(range(100, 116)), 1, deletes=[3, 5])
    write_batch("b2.ndjson", [7, 8], 2, deletes=[100])

    ix = IvfIndex(spark, str(tmp_path / "ix"))

    def drain():
        stream = (spark.readStream.schema(stream_schema)
                  .option("maxFilesPerTrigger", "1")
                  .json(str(in_dir)))
        return run_cdc_upsert_stream(
            spark, stream, str(tmp_path / "tbl"),
            str(tmp_path / "ckpt"), key="vec_id", ts_col="ts",
            delete_col="deleted", ann_index=ix)

    drain()
    table = ParquetMergeTable(spark, str(tmp_path / "tbl"),
                              key="vec_id")
    m = ix.meta()
    assert m["full_builds"] == 1 and m.get("full_reassigns", 0) == 0
    assert m["synced_version"] == table.current_version()
    assert _assign_sets(ix) == _fresh_assign(spark, ix, table)
    state = _assign_sets(ix)
    assert 3 not in state and 5 not in state and 100 not in state
    assert 7 in state and 115 in state

    # second drain through the SAME checkpoint: only the new file
    # applies; the index refreshes incrementally (no new build)
    write_batch("b3.ndjson", list(range(200, 208)), 3, deletes=[8])
    drain()
    m2 = ix.meta()
    assert m2["full_builds"] == 1
    assert m2["synced_version"] == table.current_version()
    assert _assign_sets(ix) == _fresh_assign(spark, ix, table)
    assert 8 not in _assign_sets(ix) and 207 in _assign_sets(ix)


def test_kmeans_codebook_improves_recall_on_clustered_corpus(spark, tmp_path):
    """VERDICT r11 next-4: on a CLUSTERED corpus whose lowest-id
    vectors co-locate in one blob (the case that exposes the stand-in
    codebook), build(codebook="kmeans") must (a) stay EXACT at full
    probe (the codebook only re-draws cell boundaries), and (b) beat
    the lowest-id codebook's recall@5 at nprobe=1 by a real margin
    (measured 0.945 vs 0.75 on this fixture). Also pins that refresh
    keeps working against the trained codebook."""
    rng = random.Random(23)
    rows = [(i, _vec(rng, 0, noise=0.15)) for i in range(8)]     # seeds: one blob
    rows += [(i, _vec(rng, (i % 4) * 2, noise=0.15))
             for i in range(8, 1600)]                             # 4 real blobs
    corpus = ParquetMergeTable(spark, str(tmp_path / "c"), key="vec_id")
    corpus.merge(spark.createDataFrame(rows, SCHEMA))

    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        recall_at_k,
    )

    q = corpus.read().filter(F.col("vec_id").isin(list(range(100, 140))))
    exact = topk_bruteforce(q, corpus.read(), 5).cache()
    recall = {}
    for cb in ("lowest_id", "kmeans"):
        ix = IvfIndex(spark, str(tmp_path / f"ix_{cb}"))
        ix.build(corpus, n_centroids=8, codebook=cb)
        recall[cb] = float(
            recall_at_k(exact, ix.search(q, 5, nprobe=1), 5)
            .agg(F.avg("recall_at_5")).first()[0])
        n_cells = len(ix.meta()["centroids"])
        got = {(r.query_id, r.rk): r.neighbor_id
               for r in ix.search(q, 5, nprobe=n_cells).collect()}
        want = {(r.query_id, r.rk): r.neighbor_id for r in exact.collect()}
        assert got == want, cb
        if cb == "kmeans":
            # the maintained loop composes with the trained codebook
            corpus.merge(spark.createDataFrame(
                _rows(rng, [5000, 5001, 5002]), SCHEMA))
            rep = ix.refresh(corpus)
            assert rep["rows"] == 3
            assert _assign_sets(ix) == _fresh_assign(spark, ix, corpus)
    exact.unpersist()
    assert recall["kmeans"] >= recall["lowest_id"] + 0.1, recall


def test_split_cell_2means_reseed_refines_both_centroids(spark, tmp_path):
    """The 2-means re-seed (VERDICT r11 next-4: farthest-point is
    outlier-sensitive): split moves ONLY the hot cell's members,
    records the REFINED centroid for both halves in the codebook, and
    full-probe search stays exact afterwards."""
    corpus = _corpus(spark, str(tmp_path / "corp"), n=32)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    rng = random.Random(19)
    corpus.merge(spark.createDataFrame(
        [(500 + i, _mix_vec(rng)) for i in range(120)], SCHEMA))
    ix.refresh(corpus)
    plan = ix.maintenance_plan(skew_bound=2.0)
    hot = int(plan["actions"][0].split("(")[1].rstrip(")"))
    old_cent = ix.meta()["centroids"][str(hot)]
    before = _assign_sets(ix)
    new_cell = ix.split_cell(hot, reseed="2means")
    after = _assign_sets(ix)
    for k, c in after.items():
        if before[k] != hot:
            assert c == before[k]
        else:
            assert c in (hot, new_cell)
    assert any(c == new_cell for c in after.values())
    m = ix.meta()
    # 2-means refined the KEPT side too (farthest-point never moves it)
    assert m["centroids"][str(hot)] != old_cent
    assert str(new_cell) in m["centroids"]
    q = corpus.read().filter(F.col("vec_id") < 4)
    exact = {(r.query_id, r.rk): r.neighbor_id
             for r in topk_bruteforce(q, corpus.read(), 5).collect()}
    got = {(r.query_id, r.rk): r.neighbor_id
           for r in ix.search(q, 5, nprobe=len(m["centroids"])).collect()}
    assert got == exact


def test_optimize_prunes_probe_files_and_search_stays_identical(
        spark, tmp_path):
    """After optimize() cell-clusters the assignment table, a narrow
    probe must SKIP files holding no probed cell, results identical
    with and without pruning; churn decays the layout and the plan
    surfaces optimize(), which restores the pruning."""
    rng = random.Random(11)
    corpus = _corpus(spark, str(tmp_path / "c"), n=256)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    rep = ix.optimize(target_files=8)
    assert ix.assign.clustered_by() == ["cell"]
    assert rep["files"] >= 2

    v = ix.assign.current_version()
    all_files = ix.assign._file_keys(v)
    one_cell = ix.assign._point_prune("cell", [0], v)
    assert len(one_cell) < len(all_files), (
        len(one_cell), len(all_files))

    q = corpus.read().filter(F.col("vec_id") < 4)
    pruned = _result_rows(ix.search(q, 3, nprobe=2, prune_files=True))
    full = _result_rows(ix.search(q, 3, nprobe=2, prune_files=False))
    auto_df = ix.search(q, 3, nprobe=2)
    # a small index: auto answers from the driver-resident posting
    # lists, row-for-row (cos_sim included) equal to both scan plans
    assert _is_resident(auto_df)
    auto = _result_rows(auto_df)
    assert pruned == full == auto and pruned

    # churn until the cell layout decays, then the index plan must
    # recommend optimize(); running it clears the recommendation
    for b in range(4):
        ids = rng.sample(range(256), 64)
        corpus.merge(spark.createDataFrame(
            _rows(rng, ids), SCHEMA))
        ix.refresh(corpus)
    plan = ix.maintenance_plan()
    assert "optimize()" in plan["actions"], plan
    ix.optimize(target_files=8)
    plan = ix.maintenance_plan()
    assert "optimize()" not in plan["actions"], plan
    # search exactness survives the whole cycle at full probe
    q2 = corpus.read().filter(F.col("vec_id") < 3)
    exact = topk_bruteforce(q2, corpus.read(), 3)
    got = ix.search(q2, 3, nprobe=8)
    assert ({(r.query_id, r.neighbor_id) for r in got.collect()}
            == {(r.query_id, r.neighbor_id) for r in exact.collect()})


def test_optimize_composes_with_partitioned_refresh(spark, tmp_path):
    """The layout and partitioning planes must compose: on an
    epoch-partitioned corpus+index, optimize() (whole-table cell
    zorder) must not break the epoch-pruned refresh, and a refresh
    AFTER optimize must keep the index exactly equal to a fresh
    assignment of the corpus head."""
    rng = random.Random(5)
    corpus = ParquetMergeTable(spark, str(tmp_path / "c"),
                               key="vec_id", partition_by="epoch")
    corpus.merge(spark.createDataFrame(
        [(i, _vec(rng, i % D), 0) for i in range(64)],
        SCHEMA + ", epoch int"))
    ix = IvfIndex(spark, str(tmp_path / "ix"), partition_by="epoch")
    ix.build(corpus, n_centroids=4)
    ix.optimize(target_files=4)
    assert ix.assign.clustered_by() == ["cell"]

    # churn a NEW epoch + updates in the old one, refresh through the
    # feed, and verify exact equality with a from-scratch assignment
    ins = [(100 + j, _vec(rng, j % D), 1) for j in range(16)]
    upd = [(i, _vec(rng, (i + 1) % D), 0) for i in (3, 7)]
    corpus.merge(spark.createDataFrame(ins + upd,
                                       SCHEMA + ", epoch int"))
    rep = ix.refresh(corpus)
    assert rep["versions"] == 1
    got = {r.vec_id: r.cell for r in
           ix.assign.read().select("vec_id", "cell").collect()}
    cents = ix._cents_from_meta(ix.meta())
    want = {r.vec_id: r.cell for r in
            ix._assigned(corpus.read(), cents)
            .select("vec_id", "cell").collect()}
    assert got == want
    # the declared layout survives the refresh commit, and the plan
    # still watches it
    assert ix.assign.clustered_by() == ["cell"]
    assert "layout" in ix.maintenance_plan()


def test_rebuild_through_default_store_handle_keeps_sq8_meta(
        spark, tmp_path):
    """ADVICE r12 (medium): re-running build() through a REOPENED
    handle with the default store="float" — the promoted-replica
    rebuild path replicate_index's docstring recommends — must keep
    projecting AND recording the store the index was created with.
    The broken shape merged q8-coded rows (meta wins at projection)
    while flipping meta to "float", so every later search referenced
    the missing raw embedding column and died."""
    corpus = _corpus(spark, str(tmp_path / "c"), n=96)
    ix = IvfIndex(spark, str(tmp_path / "ix"), store="sq8")
    ix.build(corpus, n_centroids=8)
    assert ix.meta()["store"] == "sq8"

    reopened = IvfIndex(spark, str(tmp_path / "ix"))  # default float
    reopened.build(corpus, n_centroids=8)
    m = reopened.meta()
    assert m["store"] == "sq8" and m["full_builds"] == 2
    # rows are q8-coded and the search path reads them fine
    assert IvfIndex._Q8_COL in reopened.assign.read().columns
    q = corpus.read().filter(F.col("vec_id") < 4)
    got = reopened.search(q, 3, nprobe=8).collect()
    assert len(got) == 4 * 3


def test_replicate_meta_snapshot_precedes_concurrent_maintenance(
        spark, tmp_path):
    """ADVICE r12: the replica's meta must be the record that MATCHES
    the exported sync point. A split_cell landing on the primary right
    after the export (concurrent maintenance) must NOT leak its
    post-split codebook onto the replica — the split's re-assignments
    were never exported, so a leaked codebook would probe cells with
    un-replicated membership (silent recall loss)."""
    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        replicate_index,
    )

    corpus = _corpus(spark, str(tmp_path / "c"), n=96)
    primary = IvfIndex(spark, str(tmp_path / "p"))
    primary.build(corpus, n_centroids=4)
    cents_before = primary._cents_from_meta(primary.meta())
    hot = max(
        ((r.cell, r.n_vectors) for r in primary.cell_stats().collect()),
        key=lambda t: t[1])[0]

    orig_export = primary.assign.export_changes

    def export_then_split():
        out = orig_export()
        primary.split_cell(int(hot))   # lands AFTER the sync point
        return out

    primary.assign.export_changes = export_then_split
    try:
        replica = replicate_index(
            spark, primary, str(tmp_path / "r"), str(tmp_path / "ck"))
    finally:
        primary.assign.export_changes = orig_export

    # replica codebook is the PRE-split record (matches the exported
    # assignments), not the primary's now-larger one
    assert replica._cents_from_meta(replica.meta()) == cents_before
    assert len(primary._cents_from_meta(primary.meta())) == \
        len(cents_before) + 1
    # every replicated assignment's cell exists in the replica codebook
    rep_cells = {r.cell for r in
                 replica.assign.read().select("cell").distinct().collect()}
    assert rep_cells <= set(cents_before)
    # and searches serve a full k per query at full probe
    q = corpus.read().filter(F.col("vec_id") < 4)
    got = replica.search(q, 5, nprobe=len(cents_before)).collect()
    assert len(got) == 4 * 5


def test_cdc_stream_survives_delete_only_first_batch(spark, tmp_path):
    """ADVICE r12: a stream whose FIRST micro-batch carries only
    delete-marked rows commits an empty table head; the index
    bootstrap must defer its build (zero seeds would die on an empty
    codebook) and let the first row-bearing batch train it."""
    import json as _json
    import os as _os

    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_cdc_upsert_stream,
    )

    rng = random.Random(13)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_batch(name, ids, ts, deletes=()):
        with open(in_dir / name, "w") as f:
            for i in ids:
                f.write(_json.dumps({
                    "vec_id": i, "ts": ts,
                    "embedding": _vec(rng, i % D),
                    "deleted": False}) + "\n")
            for i in deletes:
                f.write(_json.dumps({
                    "vec_id": i, "ts": ts, "embedding": None,
                    "deleted": True}) + "\n")
        t = 1_700_000_000 + ts * 60
        _os.utime(in_dir / name, (t, t))

    stream_schema = ("vec_id long, ts long, "
                     "embedding array<double>, deleted boolean")
    write_batch("b0.ndjson", [], 0, deletes=[1, 2])   # delete-only seed
    write_batch("b1.ndjson", list(range(24)), 1)

    ix = IvfIndex(spark, str(tmp_path / "ix"))
    stream = (spark.readStream.schema(stream_schema)
              .option("maxFilesPerTrigger", "1")
              .json(str(in_dir)))
    run_cdc_upsert_stream(
        spark, stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        key="vec_id", ts_col="ts", delete_col="deleted", ann_index=ix)

    table = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="vec_id")
    m = ix.meta()
    assert m["full_builds"] == 1          # built once, on the row batch
    assert m["synced_version"] == table.current_version()
    assert _assign_sets(ix) == _fresh_assign(spark, ix, table)
    assert len(_assign_sets(ix)) == 24


def test_kmeans_sampled_training_matches_full_within_epsilon(
        spark, tmp_path):
    """r13 sampled codebook training: build(codebook="kmeans",
    sample_n=) trains Lloyd on a deterministic hash-bottom-n sample.
    On the clustered fixture the sampled codebook must land within ε
    of full-corpus training's recall@5 at nprobe=1, keep the trained
    codebook's full margin over lowest_id, and stay EXACT at full
    probe (training only draws cell boundaries). sample_n with a
    non-training codebook is a usage error."""
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        recall_at_k,
    )

    rng = random.Random(23)
    rows = [(i, _vec(rng, 0, noise=0.15)) for i in range(8)]
    rows += [(i, _vec(rng, (i % 4) * 2, noise=0.15))
             for i in range(8, 1600)]
    corpus = ParquetMergeTable(spark, str(tmp_path / "c"), key="vec_id")
    corpus.merge(spark.createDataFrame(rows, SCHEMA))

    q = corpus.read().filter(F.col("vec_id").isin(list(range(100, 140))))
    exact = topk_bruteforce(q, corpus.read(), 5).cache()

    def build_and_recall(name, **kw):
        ix = IvfIndex(spark, str(tmp_path / f"ix_{name}"))
        ix.build(corpus, n_centroids=8, **kw)
        r = float(recall_at_k(exact, ix.search(q, 5, nprobe=1), 5)
                  .agg(F.avg("recall_at_5")).first()[0])
        return ix, r

    _, r_low = build_and_recall("low")
    _, r_full = build_and_recall("full", codebook="kmeans")
    ix_s, r_samp = build_and_recall("samp", codebook="kmeans",
                                    sample_n=400)
    exact.unpersist()
    assert abs(r_full - r_samp) <= 0.05, (r_full, r_samp)
    assert r_samp >= r_low + 0.1, (r_samp, r_low)
    # full-probe exactness holds for the sampled build
    n_cells = len(ix_s.meta()["centroids"])
    got = {(r.query_id, r.rk): r.neighbor_id
           for r in ix_s.search(q, 5, nprobe=n_cells).collect()}
    want = {(r.query_id, r.rk): r.neighbor_id
            for r in topk_bruteforce(q, corpus.read(), 5).collect()}
    assert got == want
    # deterministic: the same sample_n re-trains to the same codebook
    ix2 = IvfIndex(spark, str(tmp_path / "ix_samp2"))
    ix2.build(corpus, n_centroids=8, codebook="kmeans", sample_n=400)
    assert ix2.meta()["centroids"] == ix_s.meta()["centroids"]
    with pytest.raises(ValueError, match="sample_n"):
        IvfIndex(spark, str(tmp_path / "ix_bad")).build(
            corpus, n_centroids=8, sample_n=400)


# ---- resident route: bit-identical to the distributed plan ----------

def _assert_routes_agree(ix: IvfIndex, q, k: int, nprobe: int) -> list:
    """The auto route must answer residently and match the distributed
    full-scan plan row for row (cos_sim included), schema included."""
    auto = ix.search(q, k, nprobe=nprobe)
    dist = ix.search(q, k, nprobe=nprobe, prune_files=False)
    assert _is_resident(auto)
    assert auto.schema == dist.schema
    got = _result_rows(auto)
    assert got == _result_rows(dist), (k, nprobe)
    return got


def test_round4_matches_spark_round_bit_for_bit(spark):
    """The resident kernel's rounding must be Spark's round(x, 4) on
    doubles (HALF_UP on the decimal string) for every 4th-decimal tie
    point in [-1, 1], its neighbouring doubles, and random values —
    compared bitwise, so a sign-of-zero slip fails too."""
    import numpy as np
    import pyarrow as pa

    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        _round4,
    )

    m = np.arange(0, 10001, dtype=np.float64)
    ties = (2 * m + 1) / 2e4
    bounds = m / 1e4
    rng = np.random.default_rng(3)
    vals = np.concatenate([
        ties, bounds, np.nextafter(ties, 0), np.nextafter(ties, 2),
        np.nextafter(bounds, 0), np.nextafter(bounds, 2),
        rng.uniform(-1.01, 1.01, 20000),
        [0.0, 1.0000000000000002, 5e-5, 4.9999999999999996e-05,
         float("nan"), float("inf")]])
    vals = np.concatenate([vals, -vals])
    df = spark.createDataFrame(pa.table({"i": np.arange(len(vals)),
                                         "x": vals}))
    got = df.selectExpr("i", "round(x, 4) AS r").toArrow()
    want = got["r"].to_numpy()[np.argsort(got["i"].to_numpy())]
    mine = _round4(vals)
    same = ((want.view(np.int64) == mine.view(np.int64))
            | (np.isnan(want) & np.isnan(mine)))
    assert same.all(), vals[~same][:10]


def test_resident_cosine_kernel_matches_spark_unrounded(spark):
    """Before rounding, the NumPy verify kernel must equal the Spark
    cosine expression bit for bit (double casts of float32 input,
    left-fold sums, sqrt norms): a re-associated sum (np.sum, np.dot)
    moves last bits that round(·, 4) would almost never expose."""
    import numpy as np
    import pyarrow as pa

    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        _lfold,
    )
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        _cosine_spark_sql,
    )

    rng = np.random.default_rng(17)
    n, dim = 4000, 64
    a = rng.standard_normal((n, dim)).astype(np.float32)
    b = rng.standard_normal((n, dim)) * rng.uniform(1e-3, 1e3, (n, 1))
    df = spark.createDataFrame(pa.table({
        "i": np.arange(n),
        "a": pa.array(list(a), type=pa.list_(pa.float32())),
        "b": pa.array(list(b), type=pa.list_(pa.float64()))}))
    got = df.selectExpr(
        "i", f"{_cosine_spark_sql('a', 'b')} AS c").toArrow()
    want = got["c"].to_numpy()[np.argsort(got["i"].to_numpy())]
    a64 = a.astype(np.float64)
    mine = _lfold(a64 * b) / (np.sqrt(_lfold(np.square(a64)))
                              * np.sqrt(_lfold(np.square(b))))
    assert (want.view(np.int64) == mine.view(np.int64)).all()


def test_resident_search_matches_distributed_edge_cases(spark, tmp_path):
    """Ties at the 4th decimal (exact duplicates and a 1e-12 rescale),
    a NaN cosine (Spark's NaN is the largest double: first in the
    cos_sim DESC window, last in the probe sort), query ids present in
    the corpus, an empty probed cell (duplicate centroids: the lower
    cell wins every assignment), k above the candidate count and
    duplicate query ids (their candidates pool under one query_id)."""
    rng = random.Random(5)
    base = _vec(rng, 3)
    rows = [(0, base), (1, list(base))]
    rows += [(i, _vec(rng, i % D)) for i in range(2, 120)]
    rows += [(200, list(base)), (201, list(base)),
             (202, [x * (1 + 1e-12) for x in base]),
             (203, [float("nan")] + base[1:])]
    corpus = ParquetMergeTable(spark, str(tmp_path / "c"), key="vec_id")
    corpus.merge(spark.createDataFrame(rows, SCHEMA))
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    assert 1 not in set(_assign_sets(ix).values())

    dup = _vec(rng, 5)
    q = spark.createDataFrame(
        [(0, base), (5, _vec(rng, 5)), (500, _vec(rng, 2)),
         (500, _vec(rng, 6)), (501, dup), (501, list(dup)),
         (502, [float("nan")] + base[1:])], SCHEMA)
    for k, nprobe in ((3, 1), (4, 2), (500, 2), (5, 8), (2, 20)):
        got = _assert_routes_agree(ix, q, k, nprobe)
    # the k=2, full-probe pass: NaN first, then exact ties by id
    assert {r[3]: r[1:3] for r in got if r[0] == 0} == {
        1: (203, "NaN"), 2: (1, 1.0)}
    assert [r[1] for r in got if r[0] == 501] == [203, 203]

    # warm posting lists: a search is ONE Spark job (the query batch)
    sc = spark.sparkContext
    sc.setJobGroup("resident-search", "resident search job count")
    try:
        ix.search(q, 3, nprobe=2).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("resident-search")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs


def test_resident_search_zero_norm_defers_to_distributed(spark, tmp_path):
    """A zero cosine denominator raises DIVIDE_BY_ZERO in the
    distributed plan under ANSI (NULL otherwise); the resident kernel
    hands such inputs to that plan, so both routes end the same way
    for a zero-norm corpus vector and a zero-norm query."""
    corpus = _corpus(spark, str(tmp_path / "c"), n=64)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    # injected straight into the assignment table: assigning a zero
    # vector at build time divides by zero as well
    ix.assign.merge(spark.createDataFrame(
        [(900, [0.0] * D, 0)],
        "vec_id long, embedding array<double>, cell long"))

    def outcome(q, **kw):
        try:
            return _result_rows(ix.search(q, 3, nprobe=8, **kw))
        except Exception as ex:  # noqa: BLE001 — compared, not hidden
            return type(ex).__name__

    ansi = spark.conf.get("spark.sql.ansi.enabled") == "true"
    for q in (corpus.read().filter(F.col("vec_id") < 3),
              spark.createDataFrame([(901, [0.0] * D)], SCHEMA)):
        got = outcome(q)
        assert got == outcome(q, prune_files=False)
        assert isinstance(got, str) == ansi, got


def test_resident_search_matches_distributed_sq8_and_big_codebook(
        spark, tmp_path):
    """sq8 storage (scores over the dequantized q/127 grid) and a
    64-cell codebook (the distributed probe rides the one-row
    broadcast plane) stay bit-identical."""
    corpus = _corpus(spark, str(tmp_path / "c"), n=128)
    ix = IvfIndex(spark, str(tmp_path / "ix8"), store="sq8")
    ix.build(corpus, n_centroids=8)
    q = corpus.read().filter(F.col("vec_id") % 9 == 0)
    for nprobe in (1, 3):
        _assert_routes_agree(ix, q, 5, nprobe)

    dim = 40
    rng = random.Random(9)
    big = ParquetMergeTable(spark, str(tmp_path / "big"), key="vec_id")
    big.merge(spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)])
         for i in range(320)], SCHEMA))
    bix = IvfIndex(spark, str(tmp_path / "ix64"))
    bix.build(big, n_centroids=64)
    qb = big.read().filter(F.col("vec_id") < 12)
    for nprobe in (2, 5):
        _assert_routes_agree(bix, qb, 5, nprobe)


def test_resident_cache_follows_table_versions(spark, tmp_path):
    """Every refresh / split_cell / optimize commits a new assignment
    version; the resident posting lists must reload on it (never serve
    the old version) and keep matching the distributed plan."""
    from yelp_data_engineering_pipeline_spark.operators import ann_index as AI

    rng = random.Random(13)
    corpus = _corpus(spark, str(tmp_path / "c"), n=96)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    probe_vec = _vec(rng, 2)
    q = spark.createDataFrame(
        [(1000, probe_vec), (1001, _vec(rng, 5))], SCHEMA)
    key = (spark.sparkContext.applicationId, ix.root)

    def check() -> list:
        got = _assert_routes_agree(ix, q, 5, 2)
        assert AI._RESIDENT[key][0][0] == ix.assign.current_version()
        return got

    check()
    corpus.merge(spark.createDataFrame([(2000, list(probe_vec))], SCHEMA))
    ix.refresh(corpus)
    assert (1000, 2000, 1.0, 1) in check()
    hot = max(ix.cell_stats().collect(), key=lambda r: r.n_vectors).cell
    ix.split_cell(hot)
    check()
    ix.optimize(target_files=4)
    check()


def test_resident_search_on_promoted_replica(spark, tmp_path):
    """A replica whose assignment table was promoted (fence, drain,
    carried layout — new commits, an extra provenance column) serves
    resident searches identical to its distributed plan and to the
    primary."""
    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        replicate_index,
    )
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        promote_replica,
    )

    corpus = _corpus(spark, str(tmp_path / "c"), n=96)
    primary = IvfIndex(spark, str(tmp_path / "p"))
    primary.build(corpus, n_centroids=8)
    primary.optimize(target_files=4)
    rep_root, ckpt = str(tmp_path / "r"), str(tmp_path / "ck")
    replica = replicate_index(spark, primary, rep_root, ckpt)
    q = corpus.read().filter(F.col("vec_id") % 11 == 0)
    before = _assert_routes_agree(replica, q, 5, 3)
    v0 = replica.assign.current_version()
    promote_replica(spark, primary.assign, f"{rep_root}/assign", ckpt)
    assert replica.assign.current_version() > v0
    got = _assert_routes_agree(replica, q, 5, 3)
    assert got == before == _result_rows(primary.search(q, 5, nprobe=3))


def test_resident_posting_lists_load_once_under_concurrent_searches(
        spark, tmp_path, monkeypatch):
    """More client threads than cores, all searching a cold index at
    once with a tiny switch interval: the check-then-load of the
    resident cache is locked, so the table version loads exactly once
    and every thread gets the reference answer."""
    import sys
    import threading

    corpus = _corpus(spark, str(tmp_path / "c"), n=64)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    q = corpus.read().filter(F.col("vec_id") < 3)
    want = _result_rows(ix.search(q, 4, nprobe=2, prune_files=False))

    loads = []
    real_load = IvfIndex._load_postings

    def counting_load(self, version, store):
        loads.append(version)
        return real_load(self, version, store)

    monkeypatch.setattr(IvfIndex, "_load_postings", counting_load)
    got, errors = [], []

    def client():
        try:
            got.append(_result_rows(ix.search(q, 4, nprobe=2)))
        except Exception as ex:  # noqa: BLE001 — reported below
            errors.append(ex)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert loads == [ix.assign.current_version()]
    assert got == [want] * 8


def test_resident_route_needs_known_sizes_below_its_cap(
        spark, tmp_path, monkeypatch):
    """The resident route loads the whole assignment table into the
    driver, so the auto route takes it only while the manifest's
    recorded sizes total below _RESIDENT_MAX_BYTES; a table at the cap
    keeps the distributed plan — same rows either way. A manifest
    entry without its size (the retired pre-r9 layout) is refused."""
    import json

    corpus = _corpus(spark, str(tmp_path / "c"), n=64)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    ix.optimize(target_files=4)
    q = corpus.read().filter(F.col("vec_id") < 3)
    want = _result_rows(ix.search(q, 4, nprobe=2, prune_files=False))
    size = _assign_bytes(ix)
    assert 0 < size < IvfIndex._RESIDENT_MAX_BYTES

    monkeypatch.setattr(IvfIndex, "_RESIDENT_MAX_BYTES", size)
    at_cap = ix.search(q, 4, nprobe=2)
    assert not _is_resident(at_cap) and _result_rows(at_cap) == want
    monkeypatch.setattr(IvfIndex, "_RESIDENT_MAX_BYTES", size + 1)
    below = ix.search(q, 4, nprobe=2)
    assert _is_resident(below) and _result_rows(below) == want

    p = ix.assign._manifest_path(ix.assign.current_version())
    with open(p) as f:
        man = json.load(f)
    entries = man.get("files") or man["added"]
    del entries[sorted(entries)[0]]["bytes"]
    with open(p, "w") as f:
        json.dump(man, f)
    with pytest.raises(ValueError, match="without bytes"):
        IvfIndex(spark, str(tmp_path / "ix")).search(q, 4, nprobe=2)


def test_resident_load_blocks_only_its_own_index(
        spark, tmp_path, monkeypatch):
    """While one index's posting lists load, a cache hit on a second
    index and a cold load of a third must answer without waiting for
    the first load to finish."""
    import threading

    corpus = _corpus(spark, str(tmp_path / "c"), n=64)
    ixs = []
    for name in ("a", "b", "c"):
        ix = IvfIndex(spark, str(tmp_path / name))
        ix.build(corpus, n_centroids=8)
        ixs.append(ix)
    slow, warm, cold = ixs
    q = corpus.read().filter(F.col("vec_id") < 3)
    want = _result_rows(slow.search(q, 4, nprobe=2, prune_files=False))
    warm.search(q, 4, nprobe=2)

    started, release = threading.Event(), threading.Event()
    real_load = IvfIndex._load_postings

    def gated_load(self, version, store):
        if self.root == slow.root:
            started.set()
            release.wait(timeout=300)
        return real_load(self, version, store)

    monkeypatch.setattr(IvfIndex, "_load_postings", gated_load)
    got: dict = {}

    def search(name, ix):
        got[name] = _result_rows(ix.search(q, 4, nprobe=2))

    blocked = threading.Thread(target=search, args=("slow", slow))
    blocked.start()
    try:
        assert started.wait(timeout=120)
        others = threading.Thread(
            target=lambda: (search("warm", warm), search("cold", cold)))
        others.start()
        others.join(timeout=120)
        assert not others.is_alive(), "waited behind another index's load"
        assert blocked.is_alive()
    finally:
        release.set()
        blocked.join(timeout=300)
    assert got == {"slow": want, "warm": want, "cold": want}
