"""Full-surface partitionless-window audit (VERDICT r9 next-step #2).

Walks EVERY declared query's optimized plan and fails on any Window with
an empty partition spec whose input is not provably constant-bounded
(``plans.inspect.unbounded_global_windows`` — Limit-bounded frames are
already excused by the inspector). Data-sized inputs to a partitionless
window funnel the whole relation through one task; this is the exact
defect class of the round-9 weak findings (q_rfm_migration_matrix,
q_abc_xyz_matrix) and the self-audit catch (q_budget_greedy_selection),
all since reworked onto ``operators.distributed_rank``.

The whitelist below names every site where the window input IS bounded —
by a calendar/age/bin/dimension domain the optimizer cannot see — with
the reason. Adding a query that trips the audit means either reworking
it (distributed_rank) or adding a justified entry here.

Streaming-module queries are excluded: invoking them replays stateful
micro-batches (side effects, minutes of wall time) and returns
materialized batch results whose plans carry no scan lineage to audit;
their state discipline is pinned in the streaming tests.
"""

from __future__ import annotations

import importlib

import pytest

SF = "/root/testdata/sf0.001"

# name -> why a partitionless window over this input cannot grow with data
BOUNDED_DOMAIN_WHITELIST = {
    "events_autocorrelation": "day grain: rows bounded by the calendar span",
    "events_survival_hazard": "age-in-days grain: bounded by max lifetime",
    "q_largest_remainder_allocation": "nation grain: 25 rows",
    "events_naive_forecast_backtest": "day grain: calendar span",
    "events_cumulative_users": "day grain: calendar span",
    "events_seasonal_decompose": "day grain: calendar span",
    "events_error_budget_burn": "day grain: calendar span",
    "corpus_seq_len_histogram": "fixed histogram-bin grain",
    "q_xmr_control_chart": "day grain: calendar span",
    "text_heaps_curve": "fixed 20-bucket grain (HEAPS_BUCKETS)",
    "events_propensity_matching": (
        "score grain: distinct per-user activity counts, bounded by the "
        "max user lifetime activity (eval_roc_auc regime)"
    ),
    "corpus_epoch_waterfill": (
        "lang grain: the water-fill sort/prefix/segment scan runs on "
        "the |langs| domain aggregate (corpus9 module doc)"
    ),
}


def _audited_names():
    import __spark_entry__ as e

    out = []
    for modname in e._MODULES:
        if ".streaming." in modname:
            continue
        try:
            mod = importlib.import_module(modname)
        except ModuleNotFoundError:
            continue
        out.extend(getattr(mod, "QUERIES", {}))
    return out


# Tier 2 (round 11): column names whose value domain is a plan-time
# CONSTANT — a window partitioned ONLY by these caps parallelism at
# |domain| tasks of data/|domain| rows each. The set must name the
# aliases queries actually use (matching is by attribute name).
CONSTANT_DOMAIN_COLS = {
    "o_orderpriority",
    "c_nationkey",
    "n_nationkey",
    "s_nationkey",
    "nationkey",
    "l_returnflag",
    "l_linestatus",
    "o_orderstatus",
    "p_brand",
    "p_mfgr",
    "lang",
    "language",
    "priority",
}

# name -> why this constant-domain keyed window survives at 100x:
# either its true input is an aggregate/distinct relation whose
# cardinality a plan walk cannot see is bounded, or the query exists to
# exercise the window-operator surface itself.
KEYED_WINDOW_WHITELIST: dict[str, str] = {
    "q_window_rank_suite": (
        "exists to exercise rank/lag/range-frame window operators "
        "themselves; conversion would unimplement its subject"
    ),
    "q_decile_lift_table": (
        "cum-share window input is the nation x decile AGGREGATE "
        "(<= 25 * 10 rows); the customer-grain decile itself uses "
        "distributed_rank (r11)"
    ),
    "q_pareto_frontier": (
        "prefix-min window runs over DISTINCT (brand, price) points; "
        "p_retailprice is a bounded generated price grid, so the "
        "support is domain-bounded, not row-count-sized"
    ),
    "eval_roc_auc": (
        "prefix-count window runs over DISTINCT (lang, n_chars) "
        "groups; n_chars is bounded by the max document length"
    ),
    "eval_auc_delong": (
        "both placement windows run over DISTINCT (lang, n_chars) "
        "score cells — bounded by the document-length domain (the "
        "eval_roc_auc regime)"
    ),
    "q_theil_sen_trend": (
        "slope-median rank windows run over pairwise (priority, month) "
        "cells — calendar-bounded input (the Mann-Kendall cells regime)"
    ),
    "q_sax_symbols": (
        "rank/count windows run over (priority, month) revenue cells "
        "— calendar-bounded input (the Mann-Kendall cells regime)"
    ),
    "corpus_stratified_sample": (
        "final rank window input is the shard pre-pass winners "
        "(<= STRAT_SHARDS * STRAT_N rows per lang by construction)"
    ),
    "q_lead_time_percentiles": (
        "running-count windows run over (priority, lead_days) CELLS — "
        "lead_days is bounded by the order-to-ship fulfillment window "
        "(~121-day date-rule domain), so the input is a day-domain "
        "aggregate, not the lineitem row stream (r13 rework; the "
        "Mann-Kendall cells regime)"
    ),
}


def test_no_unjustified_constant_domain_keyed_window(built_queries):
    """Tier-2 audit (VERDICT r10 next-step #2): fail on any window whose
    partition spec is entirely constant-domain dimension columns over a
    non-constant-bounded input, unless whitelisted with a reason. This is
    the class the r10/r11 conversions retired (priority/nation keyed
    ranks over order/customer grain) — the audit keeps it retired."""
    from db_migrator_spark.plans.inspect import constant_domain_keyed_windows

    offenders = {}
    stale = dict(KEYED_WINDOW_WHITELIST)
    for name in _audited_names():
        bad = constant_domain_keyed_windows(
            built_queries(name, SF), CONSTANT_DOMAIN_COLS
        )
        if not bad:
            continue
        if name in stale:
            stale.pop(name)
            continue
        offenders[name] = bad[0][:160]
    assert not offenders, (
        "constant-domain keyed window(s) over data-sized input — rework "
        "with operators.distributed_rank(partition_by=...) or whitelist "
        f"with a reason: {offenders}"
    )
    assert not stale, f"stale keyed-window whitelist entries: {stale}"


def test_no_query_has_unbounded_global_window(built_queries):
    from db_migrator_spark.plans.inspect import unbounded_global_windows

    offenders = {}
    stale_whitelist = dict(BOUNDED_DOMAIN_WHITELIST)
    for name in _audited_names():
        bad = unbounded_global_windows(built_queries(name, SF))
        if not bad:
            continue
        if name in stale_whitelist:
            stale_whitelist.pop(name)
            continue
        offenders[name] = bad[0][:160]
    assert not offenders, (
        "data-sized partitionless window(s) — rework with "
        f"operators.distributed_rank or whitelist with a reason: {offenders}"
    )
    # a whitelist entry whose window disappeared is stale — prune it so
    # the justification list stays honest
    assert not stale_whitelist, f"stale whitelist entries: {stale_whitelist}"


def test_constant_domain_inspector_synthetic_cases(spark):
    """The tier-2 inspector itself: flags a window keyed ONLY by a
    constant-domain column over data-sized input; stays quiet when the
    partition spec also carries a subdividing column (the
    distributed_rank bin shape) or when the input is Limit-bounded."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    from db_migrator_spark.plans.inspect import constant_domain_keyed_windows

    base = spark.range(0, 1000).select(
        (F.col("id") % 5).cast("string").alias("o_orderpriority"),
        (F.col("id") % 32).alias("bin"),
        F.col("id").alias("v"),
    )
    flagged = base.select(
        F.row_number()
        .over(W.partitionBy("o_orderpriority").orderBy("v"))
        .alias("rn")
    )
    assert constant_domain_keyed_windows(flagged, CONSTANT_DOMAIN_COLS)

    subdivided = base.select(
        F.row_number()
        .over(W.partitionBy("o_orderpriority", "bin").orderBy("v"))
        .alias("rn")
    )
    assert not constant_domain_keyed_windows(subdivided, CONSTANT_DOMAIN_COLS)

    bounded = base.limit(50).select(
        F.row_number()
        .over(W.partitionBy("o_orderpriority").orderBy("v"))
        .alias("rn")
    )
    assert not constant_domain_keyed_windows(bounded, CONSTANT_DOMAIN_COLS)
