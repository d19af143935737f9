"""Engine-wide physical-plan audit: every registered query's executed
plan is scanned for scale anti-patterns. This is the automated version of
the per-operator `.explain("formatted")` review the docstrings cite.

Checked anti-patterns (each a 100 TB hazard):

- ``CartesianProduct``              unbounded all-pairs blowup
- ``BatchEvalPython``               row-at-a-time Python UDF (the slow
                                    path; Arrow variants render as
                                    ArrowEvalPython / MapInPandas /
                                    FlatMapGroupsInPandas and are fine)
- ``Exchange SinglePartition``      global serial point — allowed only
                                    for one-row final aggregates (a
                                    scalar result is inherently one
                                    partition), flagged when the query
                                    result is multi-row
- ``Exchange rangepartitioning``    global sort — allowed only for
                                    explicit top-k/ordered outputs
- ``PartitionFilters: [] + filter`` (not checkable generically; scan
                                    pruning is pinned per-query in
                                    tests/test_plan_pushdown.py)

Queries may declare justified exceptions in ``ALLOW`` with a reason;
the audit fails on any UNLISTED occurrence, so a regression in a new or
edited query surfaces immediately.

Usage: python tools/plan_audit.py [sf_dir]      # report + exit code
The audit also runs under pytest (tests/test_plan_audit.py).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# query -> {pattern: reason}. A pattern listed here is accepted for that
# query; everything else is a failure.
ALLOW: dict[str, dict[str, str]] = {
    # One-row results: the final single-partition exchange IS the result
    # shape (scalar/global aggregate) — upstream work is still parallel.
    "exact_distinct_counts": {
        "SinglePartition": "one-row global aggregate result"
    },
    "approx_distinct_users": {
        "SinglePartition": "one-row global sketch merge"
    },
    "small_quantity_part_revenue": {
        "SinglePartition": "one-row Q17 aggregate result"
    },
    "forecast_revenue_change": {
        "SinglePartition": "one-row Q6 scalar aggregate result"
    },
    "promo_revenue_share": {
        "SinglePartition": "one-row Q14 share aggregate result"
    },
    "disjunctive_brand_quantity_revenue": {
        "SinglePartition": "one-row Q19 aggregate result"
    },
    "top_revenue_suppliers": {
        "SinglePartition": "one-row MAX scalar subquery branch"
    },
    "source_mixture_weights": {
        "SinglePartition": "one-row corpus-total branch (broadcast back)"
    },
    "bm25_doc_scores": {
        "SinglePartition": "one-row corpus-stats branch (N/avgdl/df broadcast back)"
    },
    "dsir_importance_weights": {
        "SinglePartition": "one-row model-total branch (T/R broadcast back "
        "into the <=8192-row weight table)"
    },
    "orders_benford_first_digit": {
        "SinglePartition": "one-row order-total branch (broadcast back)"
    },
    "part_size_price_anova": {
        "SinglePartition": "one-row ANOVA result (50-group partial merge)"
    },
    "part_name_bigram_pmi": {
        "SinglePartition": "one-row pair-total branch (broadcast back)"
    },
    "month_seasonality_index": {
        "SinglePartition": "one-row revenue-total branch (broadcast back)"
    },
    "source_sampling_temperature": {
        "SinglePartition": "|sources|-row normalization window (result shape)"
    },
    "dataset_mix_resample": {
        "SinglePartition": "|sources|-row cap-rank window + one-row rank "
        "scalar (both broadcast back; the corpus path has no "
        "single-partition stage)"
    },
    "bpe_encode_corpus_stats": {
        "SinglePartition": "one-row corpus-stats crossJoin branches "
        "(n_short/before/after scalars merged into the single result row)"
    },
    "orders_weekday_effect": {
        "SinglePartition": "one-row weekly-total branch (broadcast back)"
    },
    "part_type_brand_cramers_v": {
        "SinglePartition": "one-row association result (grid-sized merge)"
    },
    "bipartite_hits_parts2": {
        "SinglePartition": "one-row max-authority branch (broadcast back)"
    },
    "sample_stratified_neyman": {
        "SinglePartition": "one-row weight-total branch (broadcast back)"
    },
    "copurchase_degree_powerlaw": {
        "SinglePartition": "one-row degree-summary result"
    },
    "copurchase_assortativity": {
        "SinglePartition": "one-row correlation result"
    },
    "copurchase_clustering_global": {
        "SinglePartition": "one-row transitivity result (tri + wedge scalars)"
    },
    "text_unigram_logprob": {
        "SinglePartition": "one-row corpus-total branch (broadcast back)"
    },
    "idle_high_balance_customers": {
        "SinglePartition": "two one-row scalar subqueries (cutoff, avg)"
    },
    "stats_moments_lineitem": {
        "SinglePartition": "3-group result coalesced for exact moments"
    },
    "pandas_udaf_geomean_price": {
        "SinglePartition": "3-group pandas UDAF final merge"
    },
    "percentiles_lineitem_price": {
        "SinglePartition": "one-row exact-percentile result"
    },
    "approx_percentile_prices": {
        "SinglePartition": "one-row sketch result"
    },
    "winsorized_price_stats": {
        "SinglePartition": "one-row robust-stats result",
        "rangepartitioning": "rank-position cutoffs need a global order",
    },
    # Global ordered/top-k outputs: rangepartitioning is the contract.
    "global_top10_orders": {
        "rangepartitioning": "global top-k output (TakeOrderedAndProject)"
    },
    "shipping_priority_top10": {
        "rangepartitioning": "global top-k output"
    },
    "token_vocab_topk": {
        "rangepartitioning": "global top-k vocabulary output"
    },
    # Driver-bounded ML trainer: documented cap, tested bound.
    "ann_ivf_topk": {
        "SinglePartition": "capped k-means training sample (<=1e5 rows)"
    },
    # Tiny demo-fixture graph queries: the fixture is 12 lines; their
    # plans include single-partition steps over O(10)-row frames. The
    # scale path for real graphs is the copurchase_* family, audited
    # strictly.
    "gedcom_graph_parents": {"SinglePartition": "12-line demo fixture"},
    "gedcom_graph_spouses": {"SinglePartition": "12-line demo fixture"},
    "gedcom_graph_ancestors": {"SinglePartition": "12-line demo fixture"},
    "gedcom_graph_descendants": {"SinglePartition": "12-line demo fixture"},
    "gedcom_graph_components": {"SinglePartition": "12-line demo fixture"},
    "gedcom_extract_nodes": {
        "SinglePartition": "demo fixture",
        "rangepartitioning": "deterministic fixture output order",
    },
    "gedcom_extract_edges": {
        "SinglePartition": "demo fixture",
        "rangepartitioning": "deterministic fixture output order",
    },
    "gedcom_unused_tags": {
        "SinglePartition": "demo fixture audit set",
        "rangepartitioning": "deterministic fixture output order",
    },
    "gedcom_missing_temple_codes": {
        "SinglePartition": "demo fixture audit set",
        "rangepartitioning": "deterministic fixture output order",
    },
    "gedcom_skipped_records": {
        "SinglePartition": "demo fixture audit set",
        "rangepartitioning": "deterministic fixture output order",
    },
    "gedcom_nodes_wide_indi": {
        "SinglePartition": "demo fixture",
        "rangepartitioning": "deterministic fixture output order",
    },
    # Per-iteration dangling-mass totals / stage totals / spine bounds /
    # corpus scalars: one-row aggregate branches broadcast back into an
    # otherwise fully parallel plan.
    "copurchase_pagerank_3iter": {
        "SinglePartition": "per-iteration one-row dangling-mass total"
    },
    "funnel_view_click_purchase": {
        "SinglePartition": "one-row per-stage conversion totals"
    },
    "resample_hourly_gapfill": {
        "SinglePartition": "one-row min/max spine bounds"
    },
    "tfidf_top_source_terms": {
        "SinglePartition": "one-row n_sources scalar (broadcast back)"
    },
    "gedcom_synth_family_stats": {
        "SinglePartition": "one-row missing-temple audit aggregate"
    },
    "vocab_coverage_oov": {
        "SinglePartition": "one-row coverage summary result"
    },
    "heavy_hitters_two_phase": {
        "SinglePartition": "one-row corpus-total branch (broadcast back)"
    },
    "source_token_kl_divergence": {
        "SinglePartition": "one-row corpus-total branch (broadcast back)"
    },
    "text_bigram_logprob": {
        "SinglePartition": "one-row vocab-size branch (broadcast back)"
    },
    "pareto_front_orders": {
        "SinglePartition": (
            "global skyline stage over per-partition front candidates "
            "(output-bounded: stage-1 mapInPandas prunes shuffle-free)"
        )
    },
    "events_purged_timeseries_split": {
        "SinglePartition": "one-row span/cutoff branch (broadcast back)"
    },
    "association_rules_copurchase": {
        "SinglePartition": "one-row order-total branch (broadcast back)"
    },
    "data_quality_expectations": {
        "SinglePartition": "unioned one-row constraint aggregates"
    },
    "orders_column_profile": {
        "SinglePartition": "unioned one-row per-column profile aggregates"
    },
    "null_aware_anti_join_semantics": {
        "SinglePartition": "three one-row scalar-subquery counts"
    },
    "join_strategy_hints_equivalence": {
        "SinglePartition": "three one-row per-strategy aggregate branches"
    },
    "source_length_chi2": {
        "SinglePartition": "one-row statistic over a dozen-cell table"
    },
    "customer_rfm_segments": {
        "SinglePartition": "one-row anchor-date branch (broadcast back)"
    },
    "customer_rfm_quantile": {
        "SinglePartition": "one-row anchor-date + one-row 6-threshold "
        "pivot branches (both broadcast back)"
    },
    "customer_mahalanobis_outliers": {
        "SinglePartition": "one-row five-moment aggregate (map-side "
        "partials), broadcast back as six scalars"
    },
    "dedup_savings_report": {
        "SinglePartition": "one-row rollup of the fingerprint-group table"
    },
    "minhash_recall_report": {
        "SinglePartition": "three one-row count branches (tp/cand/truth)"
    },
}

PATTERNS = (
    "CartesianProduct",
    "BatchEvalPython",
    "SinglePartition",
    "rangepartitioning",
)


# Queries whose callable RUNS a streaming job and returns its memory
# sink: the "plan" of the returned DataFrame is just a sink-table scan,
# so auditing it is vacuous — and executing the stream per audit run is
# wasted work. Their streaming plans are covered by the batch twins
# (same logical aggregation) and the streaming tests.
SKIP_STREAMING_SINK_QUERIES = frozenset(
    {"stream_event_time_tumbling_hourly", "stream_dedup_exact_groups"}
)


def audit(
    sf_dir: str = DEFAULT_SF_DIR, only: set[str] | None = None
) -> dict[str, list[str]]:
    """Return {query: [unallowed findings]} for every registered query."""
    from node_gedcom_graph_spark.operators import all_queries
    from node_gedcom_graph_spark.session import get_spark

    spark = get_spark(
        app_name="plan-audit",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    failures: dict[str, list[str]] = {}
    for name, fn in sorted(all_queries().items()):
        if name in SKIP_STREAMING_SINK_QUERIES:
            continue
        if only and name not in only:
            continue
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # pragma: no cover - surfaced in report
            failures[name] = [f"PLAN ERROR: {exc}"]
            continue
        allowed = ALLOW.get(name, {})
        bad = [
            pat
            for pat in PATTERNS
            if re.search(pat, plan) and pat not in allowed
        ]
        if bad:
            failures[name] = bad
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    only = set(sys.argv[2:]) or None
    failures = audit(sf_dir, only)
    if not failures:
        print("plan audit clean: no unallowed anti-patterns")
        return 0
    for name, findings in failures.items():
        print(f"FLAG  {name}: {', '.join(findings)}")
    print(f"{len(failures)} flagged")
    return 1


if __name__ == "__main__":
    sys.exit(main())
