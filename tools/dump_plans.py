"""Regenerate docs/PLANS.md: formatted physical plans of the headline
queries with the scan pushdown/pruning details visible — the artifact of
the per-operator `.explain` review.

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    ("q1_pricing_summary", "filter pushdown + 7/11 column pruning + partial agg"),
    ("q5_local_supplier_volume", "6-table join: broadcast dims, shuffled facts"),
    ("q_global_topk", "TakeOrderedAndProject - global top-k without a sort"),
    ("q_range_band_join", "bucketize + broadcast equi-join (no NLJ)"),
    ("dedup_ngram_jaccard", "inverted-index self-join with shuffle_hash hint"),
    ("similarity_topk_bruteforce", "broadcast query side + codegen'd fold"),
    ("q_asof_join_latest_order", "as-of via union + ignore-nulls window"),
    ("q_bucketed_join_revenue", "bucketed co-located SMJ: no Exchange, no Sort"),
    ("q_ntile_buckets", "distributed global rank: range partition + offsets"),
    ("q15_top_supplier", "global-max scalar via broadcast 1-row aggregate"),
    ("dedup_embedding_cosine", "sign-band blocked candidates, slim-key distinct, payload rejoin"),
    ("q_stratified_sample", "hash-split predicate evaluated inside the scan"),
    ("q_profile_columns", "split folds: hash-agg distinct Expand + no-Expand min/max fold"),
    ("text_bm25_search", "token-stream groupBys + broadcast df/corpus + fixed-order score"),
    ("q8_market_share", "selective dims reduce first and broadcast; facts shuffle once"),
    ("corpus_build_pipeline", "quality gate -> hash dedup semi-join -> distributed cumsum packing, one job"),
    ("similarity_lsh_pairs", "block-then-score: capped buckets, in-group matmul, dedup after scoring"),
    ("q_recursive_hierarchy", "WITH RECURSIVE ladder: per-step self-join unions, log-depth"),
    ("q_zorder_index", "Morton bit-interleave as pure codegen column math"),
    ("q_lateral_top_orders", "LATERAL correlated subquery decorrelated to Window + WindowGroupLimit"),
    ("q_cogroup_order_reconcile", "bucket-keyed two-sided cogroup, one co-shuffle into Arrow"),
    ("graph_pagerank", "iterative rank loop: per-iteration partial-agg inflow shuffles"),
    ("dedup_semantic", "broadcast centroid E-step + cluster-keyed pair join"),
    ("events_overlap_sessions", "interval join as hour-chunk equi-join, pair-key distinct"),
    # round 8
    ("similarity_mmr", "greedy re-rank: all joins over the bounded shortlist, no corpus re-scan"),
    ("graph_label_propagation", "per-round keyed arc-label join + map-side (node,label) count + argmax window"),
    ("eval_roc_auc", "lang-keyed prefix count over DISTINCT score groups — no corpus sort"),
    ("q_pareto_frontier", "skyline as sorted-scan rewrite: keyed prefix-min over distinct price points"),
    ("q_session_window_native", "native session_window: merge inside the aggregation, one keyed exchange"),
    ("q_percentile_cont", "rank spine joined back on (group, rank): probes one row per percentile"),
    # round 8 batches K-O
    ("graph_jaccard_linkpred", "degree-capped wedge generation + anti-join of existing edges + TakeOrdered"),
    ("q_bloom_semi_join", "bit set as broadcast DISTINCT-positions relation; probe never shuffles by key"),
    ("embedding_jl_projection", "pure-projection JL: one scan, codegen array folds, zero pre-sort exchange"),
    ("q_encoding_audit", "one keyed window pass + single aggregate -> stack() unpivot"),
    ("q_weighted_percentiles", "distinct-value collapse, bounded-support running weight, min-selection"),
    # round 8 batches Q-V
    ("embedding_pca_power", "join-free row-local outer product, two-stage long->decimal combine; power rounds fold driver-side (r9)"),
    ("dedup_minhash_portable", "md5 hex-min signatures, banded buckets with deterministic cap, shingle-keyed verify"),
    ("similarity_lsh_portable", "md5-derived hyperplane signs, capped buckets, dimension-keyed exact-cosine verify"),
    ("graph_clustering_coefficient", "orientation-bounded wedges + closing-edge equi-join + explode(3) counts"),
    ("q_mann_whitney_u", "distinct-value rank window over bounded support, never rows"),
    ("streaming_sliding_actives", "chained stateful aggregations in append mode, watermark-bounded state"),
    ("q_sql_udf_tiering", "SQL UDFs inline into codegen: no Python eval node in the plan"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod
    from db_migrator_spark.plans import plan_string
    from db_migrator_spark.session import get_spark

    spark = get_spark("dump-plans")
    qs = entry_mod.queries()
    out = [
        "# PLANS — physical plans of headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. What to look for:",
        "`PushedFilters` (predicates reach the parquet reader), `ReadSchema`",
        "(column pruning), `BroadcastHashJoin` on dimension sides,",
        "`TakeOrderedAndProject` for top-k, paired `HashAggregate`s",
        "(map-side partial aggregation).",
        "",
    ]
    for name, note in SHOWCASE:
        if name == "embedding_pca_power":
            # The query itself folds driver-side (LocalTableScan result);
            # the distributed stage is the covariance relation.
            from db_migrator_spark.operators.similarity_pca import (
                _covariance_cells,
            )

            df = _covariance_cells(spark, sf_dir)
        else:
            df = qs[name](spark, sf_dir)
        out += [f"## {name}", "", f"*{note}*", "", "```", plan_string(df).strip(), "```", ""]
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
