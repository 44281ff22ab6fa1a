"""Generate PLANS.md: audited physical plans for representative queries.

    python tools/gen_plans_md.py [sf_dir]

For each showcased query: the formatted Spark plan plus the properties
a 100 TB deployment depends on (pushdown, pruning, broadcast, shuffle
count). Regenerate after any plan-affecting change; tests/test_plans.py
asserts the same properties mechanically — this file is the
human-readable companion.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

COMMENTARY = {
    "flagship_revenue_by_nation": (
        "Bounded dims (nation) broadcast; lineitem scan pruned to the 3 "
        "needed columns; one shuffle for the grouped aggregate."
    ),
    "tpch_q5_local_supplier_volume": (
        "Region literal and order-date range both reach their parquet "
        "scans (PushedFilters); nation×region pre-joined and broadcast; "
        "the c_nationkey = s_nationkey residual rides the supplier join."
    ),
    "dedup_minhash_lsh": (
        "Signature subtree persisted once (feeds the band self-join and "
        "both verification joins); candidates come from a band equi-join "
        "— no all-pairs stage anywhere."
    ),
    "window_rank_distribution": (
        "Global ranking on a FIXED integer grid (r6, lazy since r14): "
        "per-cell windows keyed by _cell + broadcast prefix-sum "
        "offsets computed JVM-side — ONE action, no boundary "
        "sampling, no persist, no driver collect; the only "
        "single-partition window runs over the per-cell COUNTS "
        "aggregate (rows/2^16 at any scale), never the data."
    ),
    "window_pagination": (
        "Keyset page: seek predicate pushed to the scan, "
        "TakeOrderedAndProject top-k, zero Window nodes."
    ),
    "prep_token_budget_mix": (
        "The per-source selection window's hash partitioning is reused "
        "by the report aggregate — exactly one hash exchange."
    ),
    "join_asof": (
        "Union + key-partitioned window formulation: one shuffle on the "
        "key, no per-group Python, AQE handles key skew."
    ),
    "join_asof_nearest": (
        "Both as-of directions from ONE hash Exchange: Spark fuses the "
        "unbounded-preceding last and unbounded-following first frames "
        "into a single Window op over the same (key, ts, side) sort."
    ),
    "dedup_jaccard_prefix": (
        "Exact Jaccard self-join without the |docs|² stage: candidates "
        "come from an equi-join on rarity-ordered PREFIX tokens with "
        "integer size filters as residuals; the verify join reads the "
        "persisted shingle sets once per side."
    ),
    "text_bm25_topk": (
        "Map-side tf/length pass, one 1-row broadcast stats aggregate, "
        "per-row scoring, TakeOrderedAndProject top-k — the only Window "
        "is the rank attach over the k-row result."
    ),
    "dedup_cascade": (
        "Three keep-min reductions chained over shrinking survivor "
        "sets; the LSH tier and connected components run on tier-2 "
        "survivors only; ledger rows assembled from broadcast 1-row "
        "counts."
    ),
    "dedup_semdedup": (
        "Cell assignment is a map-side argmax over a centroid literal "
        "array (zero corpus shuffle — no broadcast-join + window "
        "round-trip); the within-cell pair join keys on the persisted "
        "assignment, and the ledger is two bounded aggregates."
    ),
    "merge_upsert_idempotent": (
        "The double-applied MERGE collapses to one anti-join + union "
        "per application; aggregates ride integer grids so both "
        "engines hash-match — the oracle applies the merge ONCE."
    ),
    "ts_anomaly_zscore": (
        "One key-partitioned sort feeds all three trailing-frame "
        "aggregates (count/sum/sum-of-squares) in a single Window op; "
        "moments derive in doubles from exact integer sums."
    ),
    "prep_reservoir_per_group": (
        "WindowGroupLimit: every map task keeps only its local "
        "bottom-k per group BEFORE the exchange — the shuffle carries "
        "O(groups x k) rows per task, not the corpus."
    ),
    "agg_bitmap_distinct": (
        "Two hash aggregates, both map-combined: partial bit_or packs "
        "64 ids per register before the shuffle, and the final "
        "sum(bit_count) is exact — no COUNT DISTINCT expand."
    ),
    "agg_kmv_intersection": (
        "r7 refactor audit: per-side bottom-k plans as WindowGroupLimit "
        "(local top-k before the one exchange); everything after the "
        "two sketch passes touches <= k rows per side — the union "
        "merge, the membership semi-joins, and the 1-row stats "
        "crossJoins are all k-bounded."
    ),
    "similarity_topk_lsh": (
        "r7 fused shape: ONE corpus pass — bucket keys and the exact "
        "cosine both evaluate inside the broadcast candidate join's "
        "project (query side broadcasts keys AND embeddings); only "
        "candidate pairs shuffle (dedup + per-query top-k). No second "
        "corpus scan, no join-by-neighbor_id, no corpus exchange."
    ),
    "similarity_topk_ivf": (
        "Map-side assignment: the corpus's cell comes from ONE argmax "
        "expression against the codebook, broadcast as a single "
        "Arrow-built row (BroadcastNestedLoopJoin over a "
        "LocalTableScan) — no window and no shuffle Exchange in the "
        "assignment subtree, and a plan that does not grow with the "
        "codebook (CI-asserted; the r9-r11 shape shuffled |corpus|x k "
        "expanded rows through a per-id row_number). The only Window "
        "left is the per-query final rank; candidates come from the "
        "cell equi-join."
    ),
    "similarity_recall_at_k": (
        "The adaptive router's IVF branch on the near-uniform fixture: "
        "centroid assignment is the map-side argmax against the "
        "one-row broadcast codebook plane (the only nested loops are "
        "those two 1-row attaches), candidate pairs come from the cell "
        "equi-join, and the isotropy probe's sample is "
        "TakeOrderedAndProject (CI-asserted since r7) — no global "
        "sort, no corpus cross-join anywhere."
    ),
    "merge_into_conditional": (
        "Read-after-MERGE: a bare pruned scan + one hash aggregate — "
        "no clause logic survives into readers. The merge itself "
        "materialized as ONE full-outer join on the key carrying all "
        "three clauses as projections/filters over the joined row "
        "(no per-clause re-join, no second pass)."
    ),
    "merge_dml_where": (
        "The read AFTER delete_where/update_where: a plain pruned "
        "parquet scan over the surviving snapshot files — the DELETE "
        "left no filter in the plan (it is file drops + boundary "
        "rewrites at commit time), the UPDATE left no CASE (values "
        "were rewritten in place), so every downstream query pays "
        "zero predicate residue. One hash aggregate over the scan."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entrymod
    from yelp_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark("gen-plans")
    qs = entrymod.queries()
    out = [
        "# PLANS.md — audited physical plans (generated)\n",
        f"`python tools/gen_plans_md.py` at `{sf_dir}`. The same",
        "properties are asserted mechanically in tests/test_plans.py;",
        "this is the readable audit trail.\n",
    ]
    for name, note in COMMENTARY.items():
        df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = qe.explainString(mode)
        # keep the tree + scan details, drop the long column lists
        lines = [
            line
            for line in plan.splitlines()
            if not line.startswith("Output") and "Input [" not in line
        ]
        out.append(f"## {name}\n\n{note}\n\n```\n" + "\n".join(lines[:60]) + "\n```\n")
        from yelp_data_engineering_pipeline_spark.cache import release_tracked

        release_tracked()
    Path("PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(COMMENTARY)} plans)")


if __name__ == "__main__":
    main()
