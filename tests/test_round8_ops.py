"""Semantic checks for the round-8 operators: exact ROC AUC, NDCG@3,
conversion-lag histogram, Coleman-Liau readability, and the full
k-means Lloyd step. Cross-engine parity is the driver/oracle gate's
job; these tests assert the MATH — each metric recomputed in plain
Python from the same fixture rows."""

import math

import pyspark.sql.functions as F

from db_migrator_spark.io import load_table

SF01 = "/root/testdata/sf0.01"


def test_roc_auc_matches_python_midrank(spark):
    from db_migrator_spark.operators.evals import PR_LABEL_MIN_TOKENS
    from db_migrator_spark.operators.evals2 import eval_roc_auc

    rows = {r.lang: r for r in eval_roc_auc(spark, SF01).collect()}
    docs = (
        load_table(spark, SF01, "documents")
        .select(
            "lang",
            F.col("n_chars").alias("score"),
            (F.size(F.split("text", " ")) >= PR_LABEL_MIN_TOKENS).alias(
                "label"
            ),
        )
        .collect()
    )
    langs = {d.lang for d in docs}
    assert set(rows) == langs
    for lang in langs:
        pairs = sorted(
            (d.score, d.label) for d in docs if d.lang == lang
        )
        # doubled mid-ranks per score group
        n = len(pairs)
        pos = sum(1 for _, l in pairs if l)
        neg = n - pos
        rank2_pos = 0
        i = 0
        while i < n:
            j = i
            while j < n and pairs[j][0] == pairs[i][0]:
                j += 1
            r2 = 2 * i + (j - i) + 1  # 2*c_less + n_tied + 1
            rank2_pos += r2 * sum(1 for k in range(i, j) if pairs[k][1])
            i = j
        r = rows[lang]
        assert (r.n_pos, r.n_neg, r.rank2_pos_sum) == (pos, neg, rank2_pos)
        if pos and neg:
            want = (rank2_pos - pos * (pos + 1)) * 1_000_000 // (2 * pos * neg)
            assert r.auc_ppm == want
            assert 0 <= r.auc_ppm <= 1_000_000


def test_ndcg_bounds_and_summary(spark):
    from db_migrator_spark.operators.evals2 import eval_ndcg

    rows = eval_ndcg(spark, SF01).collect()
    per_q = [r for r in rows if r.q_id >= 0]
    summary = [r for r in rows if r.q_id == -1]
    assert len(summary) == 1 and len(per_q) == 5
    for r in per_q:
        assert 0 <= r.dcg_micro <= r.idcg_micro  # ideal ordering dominates
        assert 0 <= r.ndcg_ppm <= 1_000_000
        if r.idcg_micro:
            assert r.ndcg_ppm == r.dcg_micro * 1_000_000 // r.idcg_micro
    assert (
        summary[0].ndcg_ppm
        == sum(r.ndcg_ppm for r in per_q) // len(per_q)
    )


def test_conversion_lag_histogram_consistency(spark):
    from db_migrator_spark.operators.events3 import events_conversion_lag

    rows = events_conversion_lag(spark, SF01).collect()
    summary = [r for r in rows if r.lag_days == -1]
    buckets = [r for r in rows if r.lag_days >= 0]
    assert len(summary) == 1
    n_signup = summary[0].n_users
    n_conv = sum(b.n_users for b in buckets)
    assert 0 < n_conv <= n_signup
    assert summary[0].share_ppm == n_conv * 1_000_000 // n_signup
    # bucket shares are exact ppm of converters and sum to ~1e6
    for b in buckets:
        assert b.share_ppm == b.n_users * 1_000_000 // n_conv
    assert 1_000_000 - len(buckets) < sum(b.share_ppm for b in buckets) <= 1_000_000


def test_readability_matches_python(spark):
    from db_migrator_spark.operators.text_metrics import (
        CLI_C_MICRO,
        CLI_L_MICRO,
        CLI_S_MICRO,
        text_readability,
    )

    out = {r.doc_id: r for r in text_readability(spark, SF01).collect()}
    docs = load_table(spark, SF01, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs)
    for d in docs[:50]:
        letters = len(
            d.text.translate(str.maketrans("", "", " .,!?;:'\""))
        )
        words = len(d.text.split(" "))
        sents = max(1, sum(d.text.count(c) for c in ".!?"))
        num = CLI_L_MICRO * letters - CLI_S_MICRO * sents - CLI_C_MICRO * words
        # truncating division toward zero, the cross-engine div contract
        cli = int(num / words) if num < 0 else num // words
        r = out[d.doc_id]
        assert (r.n_letters, r.n_words, r.n_sentences) == (letters, words, sents)
        assert r.cli_micro == cli
        assert r.grade_band == max(0, min(20, int(cli / 1_000_000) if cli < 0 else cli // 1_000_000))


def test_lloyd_step_partition_and_movement(spark):
    from db_migrator_spark.operators.corpus2 import q_kmeans_assign
    from db_migrator_spark.operators.corpus6 import q_kmeans_lloyd_step

    rows = q_kmeans_lloyd_step(spark, SF01).collect()
    n_vec = load_table(spark, SF01, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_vec  # exact partition
    labels = {
        r.assigned_label for r in q_kmeans_assign(spark, SF01).collect()
    }
    for r in rows:
        assert r.cluster in labels
        assert 0 <= r.n_moved_in <= r.n_members
        assert r.inertia_micro >= 0


def test_brier_score_bounds_and_overall(spark):
    from db_migrator_spark.operators.evals2 import eval_brier_score

    rows = {r.lang: r for r in eval_brier_score(spark, SF01).collect()}
    assert "*" in rows
    per = {k: v for k, v in rows.items() if k != "*"}
    assert sum(v.n for v in per.values()) == rows["*"].n
    for r in rows.values():
        assert 0 <= r.brier_ppm <= 1_000_000


def test_cohens_kappa_identity(spark):
    from db_migrator_spark.operators.evals2 import eval_cohens_kappa

    (r,) = eval_cohens_kappa(spark, SF01).collect()
    assert 0 <= r.po_ppm <= 1_000_000 and 0 < r.pe_ppm < 1_000_000
    want = (r.po_ppm - r.pe_ppm) * 1_000_000
    want = int(want / (1_000_000 - r.pe_ppm)) if want < 0 else want // (
        1_000_000 - r.pe_ppm
    )
    assert r.kappa_ppm == want


def test_mmr_trajectory_properties(spark):
    """Step 1 is the pure-relevance argmax; later picks never repeat a
    vector; every pick's mmr never exceeds its relevance (the penalty
    only subtracts); within a query the pick at each step maximizes the
    recomputed marginal score against the Python reference greedy."""
    from db_migrator_spark.operators.similarity_mmr import (
        MMR_K,
        MMR_QUERIES,
        similarity_mmr,
    )

    rows = similarity_mmr(spark, SF01).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(MMR_QUERIES))
    for q, sel in by_q.items():
        assert [r.step for r in sorted(sel, key=lambda r: r.step)] == list(
            range(1, MMR_K + 1)
        )
        ids = [r.vec_id for r in sel]
        assert len(set(ids)) == MMR_K
        for r in sel:
            assert r.mmr_score <= r.rel + 1e-12
        first = min(sel, key=lambda r: r.step)
        assert first.mmr_score == first.rel


def test_label_propagation_partitions_nodes(spark):
    from db_migrator_spark.operators.graph3 import (
        _sparse_arcs,
        graph_label_propagation,
    )

    rows = graph_label_propagation(spark, SF01).collect()
    n_nodes = _sparse_arcs(spark, SF01).select("u").distinct().count()
    assert len(rows) == n_nodes  # one community label per node
    sizes = {}
    for r in rows:
        sizes.setdefault(r.community, set()).add(r.part_key)
    for r in rows:
        assert r.community_size == len(sizes[r.community])
    assert len(sizes) < n_nodes  # labels actually coalesced


def test_token_budget_water_filling_invariants(spark):
    from db_migrator_spark.operators.corpus7 import (
        WF_BUDGET_DEN,
        WF_BUDGET_NUM,
        corpus_token_budget,
    )

    rows = corpus_token_budget(spark, SF01).collect()
    total = sum(r.avail_tokens for r in rows)
    budget = total * WF_BUDGET_NUM // WF_BUDGET_DEN
    allocated = sum(r.allocated_tokens for r in rows)
    # never exceeds budget or supply; capped langs fully consumed
    assert allocated <= budget
    for r in rows:
        assert 0 <= r.allocated_tokens <= r.avail_tokens
        if r.capped:
            assert r.allocated_tokens == r.avail_tokens
            assert r.fill_ppm == 1_000_000
    uncapped = [r for r in rows if not r.capped]
    assert uncapped, "budget should not cap every language"
    # equal share among uncapped (exact same quota)
    assert len({r.allocated_tokens for r in uncapped}) == 1
    # redistribution: the uncapped quota exceeds the naive fair share
    assert any(r.capped for r in rows)
    assert uncapped[0].allocated_tokens > budget // len(rows)


def test_fk_discovery_finds_real_fks(spark):
    from db_migrator_spark.operators.quality2 import q_fk_discovery

    rows = {(r.child, r.parent): r for r in q_fk_discovery(spark, SF01).collect()}
    assert rows[("orders.o_custkey", "customer.c_custkey")].is_fk
    assert rows[("lineitem.l_orderkey", "orders.o_orderkey")].is_fk
    assert rows[("lineitem.l_suppkey", "supplier.s_suppkey")].is_fk
    assert rows[("customer.c_nationkey", "nation.n_nationkey")].is_fk
    neg = rows[("part.p_partkey", "supplier.s_suppkey")]
    assert not neg.is_fk and neg.containment_ppm < 1_000_000
    for r in rows.values():
        assert 0 <= r.n_contained <= r.n_child
        assert r.containment_ppm == r.n_contained * 1_000_000 // r.n_child


def test_quality_ablation_covers_corpus(spark):
    from db_migrator_spark.operators.quality2 import corpus_quality_ablation

    rows = corpus_quality_ablation(spark, SF01).collect()
    n_docs_total = load_table(spark, SF01, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total  # exact partition
    combos = {(r.quality_pass, r.gopher_pass, r.dedup_keep) for r in rows}
    assert len(combos) == len(rows)  # no duplicate cells
    for r in rows:
        assert r.share_ppm == r.n_docs * 1_000_000 // n_docs_total


def test_perplexity_buckets_tercile_shape(spark):
    from db_migrator_spark.operators.corpus7 import corpus_perplexity_buckets

    rows = corpus_perplexity_buckets(spark, SF01).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    docs = load_table(spark, SF01, "documents").groupBy("lang").count().collect()
    per_lang_n = {r.lang: r["count"] for r in docs}
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}
        ns = [buckets[b].n_docs for b in ("head", "middle", "tail")]
        assert sum(ns) == per_lang_n[lang]
        assert max(ns) - min(ns) <= 1  # ntile balance


def test_knn_classifier_accuracy_row(spark):
    from db_migrator_spark.operators.evals2 import eval_knn_classifier

    rows = eval_knn_classifier(spark, SF01).collect()
    per_q = [r for r in rows if r.q_id >= 0]
    (summary,) = [r for r in rows if r.q_id == -1]
    assert len(per_q) == 5
    n_correct = sum(r.correct for r in per_q)
    assert summary.correct == n_correct * 1_000_000 // len(per_q)
    for r in per_q:
        assert r.correct == (1 if r.true_label == r.predicted_label else 0)


def test_percentile_cont_matches_numpy_linear(spark):
    """The integer-micro interpolation must equal numpy's 'linear'
    (type-7) method applied to the floor-micro values."""
    from db_migrator_spark.operators.quality3 import q_percentile_cont

    rows = {
        (r.o_orderpriority, r.pct): r.value_micro
        for r in q_percentile_cont(spark, SF01).collect()
    }
    orders = (
        load_table(spark, SF01, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    groups = {}
    for r in orders:
        groups.setdefault(r.o_orderpriority, []).append(
            math.floor(r.o_totalprice * 1_000_000)
        )
    for prio, vals in groups.items():
        vals.sort()
        n = len(vals)
        for pct in (25, 50, 75):
            idx, rem = divmod(pct * (n - 1), 100)
            hi = vals[idx + 1] if idx + 1 < n else vals[idx]
            want = (vals[idx] * (100 - rem) + hi * rem) // 100
            assert rows[(prio, pct)] == want


def test_funnel_windowed_rates_and_monotonicity(spark):
    from db_migrator_spark.operators.events3 import events_funnel_windowed

    rows = events_funnel_windowed(spark, SF01).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_signups
        assert 0 <= r.n_purchased_7d <= r.n_signups
        assert 0 <= r.n_viewed_7d <= r.n_signups
        assert r.view_rate_ppm == r.n_viewed_7d * 1_000_000 // r.n_signups
        assert (
            r.purchase_rate_ppm
            == r.n_purchased_7d * 1_000_000 // r.n_signups
        )


def test_streaming_conversions_match_batch_lag(spark):
    """Per-row invariants, plus the relationship to the batch
    conversion-lag operator: the batch metric counts a user only when
    their OVERALL-first purchase follows signup, while the streaming
    detector waits for the first purchase after signup — so batch
    converters are a SUBSET of streaming emissions, with identical lag
    for every shared user."""
    import pyspark.sql.functions as F

    from db_migrator_spark.streaming.windows import streaming_conversions

    conv = {r.user_id: r for r in streaming_conversions(spark, SF01).collect()}
    assert conv
    for r in conv.values():
        assert r.purchase_us >= r.signup_us
        assert r.lag_us == r.purchase_us - r.signup_us
    ev = load_table(spark, SF01, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    batch = (
        ev.filter(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "event_type", us.alias("us"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("us"))).alias("s"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("p"),
        )
        .filter(F.col("s").isNotNull() & (F.col("p") >= F.col("s")))
        .collect()
    )
    assert batch
    for b in batch:  # batch converters ⊆ streaming, identical lag
        r = conv[b.user_id]
        assert (r.signup_us, r.purchase_us) == (b.s, b.p)


def test_channel_stats_consistency(spark):
    from db_migrator_spark.operators.multimodal import (
        PPM_H,
        PPM_W,
        multimodal_channel_stats,
    )

    rows = multimodal_channel_stats(spark, SF01).collect()
    n_imgs = len({r.doc_id for r in rows})
    assert len(rows) == 3 * n_imgs  # one row per channel per image
    for r in rows:
        assert r.n_px == PPM_W * PPM_H
        assert 0 <= r.min_val <= r.max_val <= 255
        assert r.n_px * r.min_val <= r.sum_val <= r.n_px * r.max_val
        # Cauchy-Schwarz-ish sanity: sum_sq bounds
        assert r.sum_val**2 <= r.n_px * r.sum_sq


def test_session_window_native_matches_islands(spark):
    """The native session_window aggregation must yield the same session
    count and event coverage as the islands recomputation in Python."""
    from db_migrator_spark.operators.events3 import q_session_window_native

    rows = q_session_window_native(spark, SF01).collect()
    n_events_total = load_table(spark, SF01, "events").count()
    assert sum(r.n_events for r in rows) == n_events_total
    for r in rows:
        assert r.session_end > r.session_start
        # 30-minute extension past the last event
        span_us = (r.session_end - r.session_start).total_seconds()
        assert span_us >= 30 * 60


def test_decile_lift_sums_and_monotonicity(spark):
    from db_migrator_spark.operators.quality3 import q_decile_lift_table

    rows = q_decile_lift_table(spark, SF01).collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.c_nationkey, []).append(r)
    for nation, ds in by_nation.items():
        ds.sort(key=lambda r: r.decile)
        assert [r.decile for r in ds] == list(range(1, len(ds) + 1))
        # cumulative share reaches ~100% and is non-decreasing
        shares = [r.cum_share_ppm for r in ds]
        assert shares == sorted(shares)
        assert 1_000_000 - 10 <= shares[-1] <= 1_000_000
        # revenue-desc deciles: decile 1 has the highest lift
        assert ds[0].lift_ppm == max(r.lift_ppm for r in ds)
        assert ds[0].lift_ppm >= 1_000_000  # top decile beats uniform


def test_inter_arrival_gap_bounds(spark):
    from db_migrator_spark.operators.events3 import events_inter_arrival

    rows = events_inter_arrival(spark, SF01).collect()
    assert rows
    for r in rows:
        assert r.n_events >= 2
        assert 0 <= r.min_gap_us <= r.mean_gap_us + 1
        assert r.mean_gap_us <= r.max_gap_us


def test_containment_vs_jaccard_asymmetry(spark):
    """Containment must be exact integer ppm of each side's shingle set;
    pairs where one side is (near-)fully contained score 1e6 regardless
    of the other side's size — the subset-duplication signal Jaccard
    dilutes."""
    from db_migrator_spark.operators.dedup import (
        CONTAIN_MIN_PPM,
        dedup_containment,
    )

    rows = dedup_containment(spark, SF01).collect()
    assert rows
    for r in rows:
        assert max(r.cont_1_ppm, r.cont_2_ppm) >= CONTAIN_MIN_PPM
        assert 0 < r.cont_1_ppm <= 1_000_000
        assert 0 < r.cont_2_ppm <= 1_000_000
        assert r.shared > 0


def test_ks_statistic_matches_python(spark):
    from db_migrator_spark.operators.quality import DRIFT_PIVOT
    from db_migrator_spark.operators.stats import q_ks_drift_test

    rows = {r.o_orderpriority: r for r in q_ks_drift_test(spark, SF01).collect()}
    orders = (
        load_table(spark, SF01, "orders")
        .select("o_orderpriority", "o_orderdate", "o_totalprice")
        .collect()
    )
    import datetime

    pivot = datetime.datetime.fromisoformat(DRIFT_PIVOT)
    groups = {}
    for o in orders:
        h = 1 if o.o_orderdate < pivot else 2
        groups.setdefault(o.o_orderpriority, []).append(
            (math.floor(o.o_totalprice * 1_000_000), h)
        )
    for prio, vals in groups.items():
        s1 = sorted(v for v, h in vals if h == 1)
        s2 = sorted(v for v, h in vals if h == 2)
        n1, n2 = len(s1), len(s2)
        support = sorted(set(s1) | set(s2))
        import bisect

        d_num = max(
            abs(bisect.bisect_right(s1, x) * n2 - bisect.bisect_right(s2, x) * n1)
            for x in support
        )
        r = rows[prio]
        assert (r.n1, r.n2, r.d_num) == (n1, n2, d_num)
        assert r.d_ppm == d_num * 1_000_000 // (n1 * n2)


def test_chi_square_total_and_expected(spark):
    from db_migrator_spark.operators.stats import q_chi_square_independence

    rows = q_chi_square_independence(spark, SF01).collect()
    cells = [r for r in rows if r.o_orderpriority != "*"]
    (total,) = [r for r in rows if r.o_orderpriority == "*"]
    n = sum(r.obs for r in cells)
    assert total.obs == n
    # expected counts sum to ~N (micro rounding) and contribs are >= 0
    assert abs(total.expected_micro - n * 1_000_000) <= len(cells) * 2
    assert total.chi2_contrib_micro == sum(r.chi2_contrib_micro for r in cells)
    for r in cells:
        assert r.chi2_contrib_micro >= 0


def test_pareto_frontier_no_dominance(spark):
    """Frontier membership recomputed naively in Python: a part is on
    the frontier exactly when no same-brand part strictly dominates
    it."""
    from db_migrator_spark.operators.quality3 import q_pareto_frontier

    front = q_pareto_frontier(spark, SF01).collect()
    parts = load_table(spark, SF01, "part").collect()
    pts = {}
    for p in parts:
        pts.setdefault(p.p_brand, []).append(
            (math.floor(p.p_retailprice * 1_000_000), p.p_size, p.p_partkey)
        )
    fkeys = {(r.p_brand, r.p_partkey) for r in front}
    for brand, group in pts.items():
        for x, y, k in group:
            dominated = any(
                (x2 <= x and y2 <= y and (x2 < x or y2 < y))
                for x2, y2, _ in group
            )
            assert ((brand, k) in fkeys) == (not dominated)


def test_survival_hazard_conservation(spark):
    from db_migrator_spark.operators.events3 import events_survival_hazard

    rows = sorted(
        events_survival_hazard(spark, SF01).collect(), key=lambda r: r.age
    )
    # at_risk at age 0 equals the whole population; monotone decreasing
    assert rows[0].age == 0 or rows[0].n_at_risk == sum(
        r.n_churned for r in rows
    )
    assert rows[0].n_at_risk == sum(r.n_churned for r in rows)
    risks = [r.n_at_risk for r in rows]
    assert risks == sorted(risks, reverse=True)
    for r in rows:
        assert r.hazard_ppm == r.n_churned * 1_000_000 // r.n_at_risk


def test_runs_test_count_matches_python(spark):
    from db_migrator_spark.operators.stats import q_runs_test

    rows = {r.o_orderpriority: r for r in q_runs_test(spark, SF01).collect()}
    orders = (
        load_table(spark, SF01, "orders")
        .select("o_orderpriority", "o_orderdate", "o_orderkey", "o_totalprice")
        .collect()
    )
    groups = {}
    for o in orders:
        groups.setdefault(o.o_orderpriority, []).append(o)
    for prio, os_ in groups.items():
        vals = sorted(
            (math.floor(o.o_totalprice * 1_000_000), o.o_orderkey) for o in os_
        )
        med = vals[(len(vals) + 1) // 2 - 1][0]
        seq = [
            1 if math.floor(o.o_totalprice * 1_000_000) > med else 0
            for o in sorted(os_, key=lambda o: (o.o_orderdate, o.o_orderkey))
            if math.floor(o.o_totalprice * 1_000_000) != med
        ]
        n_runs = sum(
            1 for i, s in enumerate(seq) if i == 0 or seq[i - 1] != s
        )
        r = rows[prio]
        assert (r.n_above, r.n_below, r.n_runs) == (
            sum(seq),
            len(seq) - sum(seq),
            n_runs,
        )


def test_peak_hours_are_local_maxima(spark):
    from db_migrator_spark.operators.events3 import events_peak_hours

    rows = events_peak_hours(spark, SF01).collect()
    assert rows
    for r in rows:
        assert r.n > r.prev_n and r.n >= r.next_n
    # recompute one type's peaks in Python over the observed series
    ev = (
        load_table(spark, SF01, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")
            .cast("bigint")
            .alias("hr")
        )
        .groupBy("hr")
        .count()
        .collect()
    )
    series = sorted((r.hr, r["count"]) for r in ev)
    want = {
        hr
        for i, (hr, n) in enumerate(series)
        if (series[i - 1][1] if i > 0 else 0) < n
        and n >= (series[i + 1][1] if i + 1 < len(series) else 0)
    }
    got = {r.hr for r in rows if r.event_type == "purchase"}
    assert got == want


def test_zipf_check_products(spark):
    from db_migrator_spark.operators.text_metrics import (
        ZIPF_TOP_K,
        text_zipf_check,
    )

    rows = sorted(text_zipf_check(spark, SF01).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, ZIPF_TOP_K + 1))
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert rows[0].zipf_dev_ppm == 0
    for r in rows:
        assert r.rank_cnt == r.rank * r.cnt


def test_basket_triples_apriori_consistency(spark):
    """Triple support never exceeds any leave-one-out pair support, and
    the conditional ppm rates encode exactly that ratio."""
    from db_migrator_spark.operators.graph2 import (
        TRIPLE_MIN_SUPPORT,
        q_basket_triples,
    )

    rows = q_basket_triples(spark, SF01).collect()
    assert rows  # support-2 triples exist at sf0.01
    for r in rows:
        assert r.support >= TRIPLE_MIN_SUPPORT
        for c in (r.conf_12to3_ppm, r.conf_13to2_ppm, r.conf_23to1_ppm):
            assert 0 < c <= 1_000_000  # pair support >= triple support


def test_outlier_iqr_matches_python(spark):
    from db_migrator_spark.operators.stats2 import q_outlier_iqr

    rows = {r.o_orderpriority: r for r in q_outlier_iqr(spark, SF01).collect()}
    vals = {}
    for r in (
        load_table(spark, SF01, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    ):
        vals.setdefault(r.o_orderpriority, []).append(
            math.floor(r.o_totalprice * 1_000_000)
        )
    assert set(rows) == set(vals)
    for prio, vs in vals.items():
        vs.sort()
        n = len(vs)
        q1 = vs[(n + 3) // 4 - 1]
        q3 = vs[(3 * n + 3) // 4 - 1]
        lo = q1 - (3 * (q3 - q1)) // 2
        hi = q3 + (3 * (q3 - q1)) // 2
        r = rows[prio]
        assert (r.n, r.q1_micro, r.q3_micro) == (n, q1, q3)
        assert (r.lo_fence_micro, r.hi_fence_micro) == (lo, hi)
        assert r.n_low_outliers == sum(1 for v in vs if v < lo)
        assert r.n_high_outliers == sum(1 for v in vs if v > hi)
        assert r.outlier_ppm == (
            (r.n_low_outliers + r.n_high_outliers) * 1_000_000 // n
        )


def test_drift_effect_size_matches_python(spark):
    import datetime

    from db_migrator_spark.operators.quality import DRIFT_PIVOT
    from db_migrator_spark.operators.stats2 import q_drift_effect_size

    rows = {
        r.o_orderpriority: r
        for r in q_drift_effect_size(spark, SF01).collect()
    }
    pivot = datetime.datetime.fromisoformat(DRIFT_PIVOT)
    halves = {}
    for r in (
        load_table(spark, SF01, "orders")
        .select("o_orderpriority", "o_orderdate", "o_totalprice")
        .collect()
    ):
        h = 1 if r.o_orderdate < pivot else 2
        halves.setdefault((r.o_orderpriority, h), []).append(r.o_totalprice)
    for prio in rows:
        r = rows[prio]
        for h, (n_col, mean_col, cv_col) in {
            1: ("n1", "mean1_micro", "cv2_pre_micro"),
            2: ("n2", "mean2_micro", "cv2_post_micro"),
        }.items():
            ps = halves[(prio, h)]
            s = sum(math.floor(p * 1_000_000) for p in ps)
            sc = sum(math.floor(p * 100) for p in ps)
            ssc = sum(math.floor(p * 100) ** 2 for p in ps)
            n = len(ps)
            assert getattr(r, n_col) == n
            assert getattr(r, mean_col) == s // n
            want_cv = (n * ssc - sc * sc) * 1_000_000 // (sc * sc)
            assert getattr(r, cv_col) == want_cv
            assert want_cv >= 0  # variance is non-negative
        s1 = sum(math.floor(p * 1_000_000) for p in halves[(prio, 1)])
        s2 = sum(math.floor(p * 1_000_000) for p in halves[(prio, 2)])
        n1, n2 = len(halves[(prio, 1)]), len(halves[(prio, 2)])
        num = s2 * n1 - s1 * n2
        den = n1 * n2
        want_gap = abs(num) // den * (1 if num >= 0 else -1)  # trunc to 0
        assert r.gap_micro == want_gap


def test_autocorrelation_matches_python(spark):
    from db_migrator_spark.operators.events3 import events_autocorrelation

    rows = {r.lag: r for r in events_autocorrelation(spark, SF01).collect()}
    assert set(rows) == set(range(1, 8))
    daily = {}
    for r in (
        load_table(spark, SF01, "events")
        .select(F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"))
        .collect()
    ):
        d = r.us // 86_400_000_000
        daily[d] = daily.get(d, 0) + 1
    xs = [daily[d] for d in sorted(daily)]
    n, s = len(xs), sum(xs)
    c = [n * x - s for x in xs]
    den = sum(v * v for v in c)
    for k in range(1, 8):
        num = sum(c[t] * c[t + k] for t in range(n - k))
        r = rows[k]
        assert (r.n_days, r.n_terms, r.num) == (n, n - k, num)
        want = abs(num) * 1_000_000 // den * (1 if num >= 0 else -1)
        assert r.acf_micro == want
        assert -1_000_000 <= r.acf_micro <= 1_000_000


def test_jaccard_linkpred_matches_python(spark):
    from db_migrator_spark.operators.graph2 import KCORE_MIN_COOC
    from db_migrator_spark.operators.graph3 import (
        LINKPRED_HUB_CAP,
        LINKPRED_TOP_K,
        graph_jaccard_linkpred,
    )

    rows = graph_jaccard_linkpred(spark, SF01).collect()
    assert 0 < len(rows) <= LINKPRED_TOP_K
    # rebuild the sparsified co-purchase graph in python
    orders = {}
    for r in (
        load_table(spark, SF01, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        orders.setdefault(r.l_orderkey, []).append(r.l_partkey)
    from collections import Counter

    # join-row multiplicity, not distinct orders: (order, part) repeats
    # across suppliers and the sparsifier counts every row pair
    cooc = Counter()
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                if ps[i] != ps[j]:
                    cooc[(ps[i], ps[j])] += 1
    edges = {p for p, c in cooc.items() if c >= KCORE_MIN_COOC}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    cn = Counter()
    for w, nbrs in adj.items():
        if len(nbrs) > LINKPRED_HUB_CAP:
            continue
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cn[(ns[i], ns[j])] += 1
    want = {}
    for (a, b), c in cn.items():
        if (a, b) in edges:
            continue
        da, db = len(adj[a]), len(adj[b])
        want[(a, b)] = (c, da, db, c * 1_000_000 // (da + db - c))
    ranked = sorted(
        want.items(), key=lambda kv: (-kv[1][3], kv[0])
    )[:LINKPRED_TOP_K]
    got = [((r.a, r.b), (r.cn, r.deg_a, r.deg_b, r.jaccard_micro)) for r in rows]
    assert got == ranked


def test_bloom_semi_join_matches_python(spark):
    from db_migrator_spark.operators.sketches import (
        BLOOM_A1,
        BLOOM_A2,
        BLOOM_BUILD_MIN_SIZE,
        BLOOM_H_PRIME,
        BLOOM_K_HASH,
        BLOOM_M_BITS,
        q_bloom_semi_join,
    )

    r = q_bloom_semi_join(spark, SF01).collect()[0]
    part = load_table(spark, SF01, "part").select("p_partkey", "p_size").collect()
    build = {p.p_partkey for p in part if p.p_size >= BLOOM_BUILD_MIN_SIZE}

    def positions(key):
        h1 = (key * BLOOM_A1) % BLOOM_H_PRIME
        h2 = 1 + (key * BLOOM_A2) % BLOOM_H_PRIME
        return {(h1 + i * h2) % BLOOM_M_BITS for i in range(BLOOM_K_HASH)}

    bits = set()
    for k in build:
        bits |= positions(k)
    li = load_table(spark, SF01, "lineitem").select("l_partkey").collect()
    probe = {x.l_partkey for x in li}
    passing = {k for k in probe if positions(k) <= bits}
    assert passing >= (probe & build)  # no false negatives, ever
    assert (r.n_build_keys, r.n_bits_set) == (len(build), len(bits))
    assert (r.n_probe_keys, r.n_bloom_pass) == (len(probe), len(passing))
    assert r.n_true_members == len(probe & build)
    assert r.n_false_pos == len(passing - build)
    assert r.rows_bloom_pass == sum(1 for x in li if x.l_partkey in passing)
    assert r.rows_exact == sum(1 for x in li if x.l_partkey in build)


def test_crossval_folds_partition_documents(spark):
    import hashlib

    from db_migrator_spark.operators.splits import (
        CV_FOLD_UPPERS,
        CV_SALT,
        corpus_crossval_folds,
    )

    rows = {r.fold: r for r in corpus_crossval_folds(spark, SF01).collect()}
    docs = load_table(spark, SF01, "documents").select(
        "text", "lang", "n_chars"
    ).collect()
    want = {}
    for d in docs:
        h = hashlib.md5((CV_SALT + d.text).encode()).hexdigest()[:2]
        fold = sum(1 for u in CV_FOLD_UPPERS if h >= u)
        st = want.setdefault(fold, [0, 0, set()])
        st[0] += 1
        st[1] += d.n_chars
        st[2].add(d.lang)
    assert set(rows) == set(want)
    total = len(docs)
    for fold, (n, chars, langs) in want.items():
        r = rows[fold]
        assert (r.n_docs, r.n_chars, r.n_langs) == (n, chars, len(langs))
        assert r.share_ppm == n * 1_000_000 // total


def test_ab_assignment_srm_and_conversion(spark):
    import hashlib

    from db_migrator_spark.operators.events3 import (
        AB_ARM_UPPER,
        AB_SALT,
        events_ab_assignment,
    )

    rows = {r.arm: r for r in events_ab_assignment(spark, SF01).collect()}
    assert set(rows) == {"A", "B"}
    ev = load_table(spark, SF01, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    users = {}
    for e in ev:
        h = hashlib.md5((AB_SALT + str(e.user_id)).encode()).hexdigest()[:2]
        arm = "A" if h < AB_ARM_UPPER else "B"
        st = users.setdefault(e.user_id, [arm, 0, 0, 0])
        st[1] += 1
        if e.event_type == "purchase":
            st[2] += 1
            st[3] += math.floor(e.value * 1_000_000)
    for arm in ("A", "B"):
        us = [u for u in users.values() if u[0] == arm]
        r = rows[arm]
        assert r.n_users == len(us)
        assert r.n_events == sum(u[1] for u in us)
        assert r.n_purchase_events == sum(u[2] for u in us)
        assert r.converting_users == sum(1 for u in us if u[2] > 0)
        assert r.purchase_value_micro == sum(u[3] for u in us)
        assert r.conv_ppm == r.converting_users * 1_000_000 // r.n_users
        # SRM check: within 5% of an even split at fixture scale
        assert abs(r.user_share_ppm - 500_000) < 50_000


def test_jl_projection_matches_python(spark):
    from db_migrator_spark.operators.similarity import (
        JL_OUT_DIMS,
        JL_Q_SCALE,
        _jl_signs,
        embedding_jl_projection,
    )

    rows = {r.vec_id: r for r in embedding_jl_projection(spark, SF01).collect()}
    emb = load_table(spark, SF01, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    signs = _jl_signs()
    assert len(rows) == len(emb)
    for e in emb[:50]:
        q = [math.floor(float(x) * JL_Q_SCALE) for x in e.embedding]
        ys = [sum(s * qi for s, qi in zip(row, q)) for row in signs]
        r = rows[e.vec_id]
        assert [getattr(r, f"y{j}") for j in range(JL_OUT_DIMS)] == ys
        in_n2 = sum(x * x for x in q)
        out_n2 = sum(y * y for y in ys)
        assert (r.in_norm2, r.out_norm2) == (in_n2, out_n2)
        assert r.distortion_ppm == out_n2 * 1_000_000 // (JL_OUT_DIMS * in_n2)
    # JL guarantee in aggregate: mean distortion within 25% of unity
    mean = sum(r.distortion_ppm for r in rows.values()) // len(rows)
    assert 750_000 < mean < 1_250_000


def test_word_diversity_matches_python(spark):
    from collections import Counter

    from db_migrator_spark.operators.text_metrics import text_word_diversity

    rows = {r.doc_id: r for r in text_word_diversity(spark, SF01).collect()}
    docs = load_table(spark, SF01, "documents").select("doc_id", "text").collect()
    for d in docs[:50]:
        c = Counter(w for w in d.text.split(" ") if w)
        n = sum(c.values())
        sq = sum(v * v for v in c.values())
        r = rows[d.doc_id]
        assert (r.n_tokens, r.n_distinct) == (n, len(c))
        assert r.ttr_ppm == len(c) * 1_000_000 // n
        assert r.simpson_ppm == (n * n - sq) * 1_000_000 // (n * n)
        assert 0 <= r.simpson_ppm < 1_000_000


def test_encoding_audit_matches_python(spark):
    from db_migrator_spark.operators.quality3 import q_encoding_audit

    rows = {r.col_name: r for r in q_encoding_audit(spark, SF01).collect()}
    li = (
        load_table(spark, SF01, "lineitem")
        .select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
            "l_quantity",
            F.expr(
                "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"
            ).alias("ship_day"),
        )
        .collect()
    )
    li.sort(key=lambda r: (r.l_orderkey, r.l_partkey, r.l_suppkey))
    n = len(li)
    for col, conv in {
        "l_returnflag": lambda r: r.l_returnflag,
        "l_quantity": lambda r: math.floor(r.l_quantity * 1_000_000),
        "l_shipdate": lambda r: r.ship_day,
    }.items():
        runs = 0
        maxd = None
        prev_key = None
        prev_val = None
        distinct = set()
        for r in li:
            v = conv(r)
            distinct.add(v)
            if prev_key != r.l_orderkey or prev_val != v:
                runs += 1
            if (
                col != "l_returnflag"
                and prev_key == r.l_orderkey
                and prev_val is not None
            ):
                d = abs(v - prev_val)
                maxd = d if maxd is None else max(maxd, d)
            prev_key, prev_val = r.l_orderkey, v
        row = rows[col]
        assert (row.n_rows, row.n_distinct, row.n_runs) == (
            n, len(distinct), runs,
        )
        assert row.rle_save_ppm == (n - runs) * 1_000_000 // n
        if col == "l_returnflag":
            assert row.max_abs_delta is None
        else:
            assert row.max_abs_delta == maxd


def test_weighted_percentiles_match_python(spark):
    from db_migrator_spark.operators.quality3 import q_weighted_percentiles

    rows = {
        r.l_returnflag: r for r in q_weighted_percentiles(spark, SF01).collect()
    }
    li = load_table(spark, SF01, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    groups = {}
    for r in li:
        groups.setdefault(r.l_returnflag, []).append(
            (math.floor(r.l_extendedprice * 1_000_000),
             math.floor(r.l_quantity))
        )
    assert set(rows) == set(groups)
    for flag, vw in groups.items():
        agg = {}
        for v, w in vw:
            agg[v] = agg.get(v, 0) + w
        total = sum(agg.values())
        cum = 0
        wmed = wp90 = None
        for v in sorted(agg):
            cum += agg[v]
            if wmed is None and cum * 2 >= total:
                wmed = v
            if wp90 is None and cum * 10 >= total * 9:
                wp90 = v
        r = rows[flag]
        assert (r.total_w, r.n_values) == (total, len(agg))
        assert (r.wmedian_micro, r.wp90_micro) == (wmed, wp90)
        assert wmed <= wp90


def test_scd2_asof_snapshot_one_version_per_customer(spark):
    import datetime

    from db_migrator_spark.operators.incremental import (
        SCD2_SNAPSHOT_TS,
        q_scd2_asof_snapshot,
        q_scd2_dimension,
    )

    snap = q_scd2_asof_snapshot(spark, SF01).collect()
    keys = [r.o_custkey for r in snap]
    assert len(keys) == len(set(keys))  # at most one version per customer
    ts = datetime.datetime.fromisoformat(SCD2_SNAPSHOT_TS)
    for r in snap[:100]:
        assert r.effective_from <= ts
        assert r.effective_to is None or r.effective_to > ts
    # exactly the customers whose history starts at or before the ts
    dim = q_scd2_dimension(spark, SF01).collect()
    started = {
        r.o_custkey for r in dim if r.version_n == 1 and r.effective_from <= ts
    }
    assert set(keys) == started


def test_k_anonymity_audit_matches_python(spark):
    from db_migrator_spark.operators.stats2 import (
        K_ANON,
        L_DIVERSE,
        q_k_anonymity_audit,
    )

    rows = q_k_anonymity_audit(spark, SF01).collect()
    total = [r for r in rows if r.c_nationkey == -1]
    classes = [r for r in rows if r.c_nationkey >= 0]
    assert len(total) == 1
    cust = load_table(spark, SF01, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    want = {}
    for c in cust:
        key = (c.c_nationkey, c.c_mktsegment)
        want.setdefault(key, []).append(math.floor(c.c_acctbal / 1000))
    assert {(r.c_nationkey, r.c_mktsegment) for r in classes} == set(want)
    for r in classes:
        vs = want[(r.c_nationkey, r.c_mktsegment)]
        assert r.class_size == len(vs)
        assert r.distinct_sensitive == len(set(vs))
        assert r.is_k_anon == (len(vs) >= K_ANON)
        assert r.is_l_diverse == (len(set(vs)) >= L_DIVERSE)
    t = total[0]
    assert t.class_size == len(cust)
    assert t.distinct_sensitive == min(r.distinct_sensitive for r in classes)
    assert t.is_k_anon == all(r.is_k_anon for r in classes)
    assert t.is_l_diverse == all(r.is_l_diverse for r in classes)


def test_modularity_total_and_identities(spark):
    from db_migrator_spark.operators.graph3 import (
        _sparse_arcs,
        graph_label_propagation,
        graph_modularity,
    )

    rows = graph_modularity(spark, SF01).collect()
    total = [r for r in rows if r.community == -1]
    classes = [r for r in rows if r.community != -1]
    assert len(total) == 1
    t = total[0]
    ac = _sparse_arcs(spark, SF01).count()
    # every arc and every degree lands in exactly one community
    assert t.degree_sum == ac
    assert t.n_nodes == sum(r.n_nodes for r in classes)
    assert t.intra_arcs == sum(r.intra_arcs for r in classes)
    assert t.intra_arcs % 2 == 0  # symmetric arc list
    # exact total from the integer formula
    num = sum(
        ac * r.intra_arcs - r.degree_sum * r.degree_sum for r in classes
    )
    want = abs(num) * 1_000_000 // (ac * ac) * (1 if num >= 0 else -1)
    assert t.q_contrib_micro == want
    # propagation found real structure on the fixture graph
    assert t.q_contrib_micro > 0
    # community ids match the propagation's labels
    lprop = {r.community for r in graph_label_propagation(spark, SF01).collect()}
    assert {r.community for r in classes} == lprop


def test_time_weighted_value_matches_python(spark):
    from db_migrator_spark.operators.events3 import events_time_weighted_value

    rows = {r.user_id: r for r in events_time_weighted_value(spark, SF01).collect()}
    ev = (
        load_table(spark, SF01, "events")
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("v"),
        )
        .collect()
    )
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.us, r.event_id, r.v))
    assert set(rows) == {u for u, evs in by_user.items() if len(evs) > 1}
    for uid, evs in by_user.items():
        if len(evs) < 2:
            continue
        evs.sort()
        segs = [
            (evs[i][2], evs[i + 1][0] - evs[i][0])
            for i in range(len(evs) - 1)
        ]
        span = sum(dt for _, dt in segs)
        w_sum = sum(v * dt for v, dt in segs)
        got = rows[uid]
        assert got.n_segments == len(segs)
        assert got.span_us == span
        # truncating div contract (all-positive fixture: same as floor)
        assert got.twap_micro == (
            None if span == 0 else abs(w_sum) // span * (1 if w_sum >= 0 else -1)
        )
        # TWAP is a weighted mean: bounded by min/max held value
        vals = [v for v, _ in segs]
        assert min(vals) <= got.twap_micro <= max(vals)


def test_streaming_sessions_equal_batch_twin(spark):
    from db_migrator_spark.operators.events3 import q_session_window_native
    from db_migrator_spark.streaming.windows import streaming_session_windows

    sf = "/root/testdata/sf0.001"
    got = streaming_session_windows(spark, sf).collect()
    want = q_session_window_native(spark, sf).collect()
    assert [tuple(r) for r in got] == [
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_micros)
        for r in want
    ]
    # sessions are genuinely merged: fewer sessions than events
    n_events = load_table(spark, sf, "events").count()
    assert 0 < len(got) < n_events


def test_f1_macro_identities(spark):
    from db_migrator_spark.operators.evals import eval_f1_macro, eval_langid_confusion

    rows = {r.lang: r for r in eval_f1_macro(spark, SF01).collect()}
    macro = rows.pop("__macro__")
    cells = eval_langid_confusion(spark, SF01).collect()
    n_docs = sum(c.n for c in cells)
    # every doc is exactly one class's TP or FN, and one class's TP or FP
    assert sum(r.tp + r.fn for r in rows.values()) == n_docs
    assert sum(r.tp + r.fp for r in rows.values()) == n_docs
    assert macro.tp == sum(r.tp for r in rows.values())
    for r in rows.values():
        # F1 lies between P and R (harmonic-mean bound, ppm tolerance 1)
        if r.precision_ppm is not None and r.recall_ppm is not None:
            lo, hi = sorted((r.precision_ppm, r.recall_ppm))
            assert lo - 1 <= r.f1_ppm <= hi + 1
        # exact rational: 2tp/(2tp+fp+fn)
        denom = 2 * r.tp + r.fp + r.fn
        assert r.f1_ppm == (2 * r.tp * 1_000_000 // denom if denom else None)
    # macro is the truncated unweighted class average
    assert macro.f1_ppm == sum(
        r.f1_ppm or 0 for r in rows.values()
    ) // len(rows)


def test_mutual_knn_reciprocity(spark):
    from db_migrator_spark.operators.similarity import (
        MUTUAL_KNN_ANCHORS,
        MUTUAL_KNN_K,
        similarity_mutual_knn,
    )

    edges = similarity_mutual_knn(spark, SF01).collect()
    assert edges, "fixture anchors must yield some mutual edges"
    seen = set()
    for e in edges:
        assert 0 <= e.src < e.dst < MUTUAL_KNN_ANCHORS
        assert -1.0001 <= e.cos_sim <= 1.0001
        seen.add((e.src, e.dst))
    assert len(seen) == len(edges)  # each mutual edge exactly once
    # mutual edges are a subset of directed top-k: bounded by k*n/2
    assert len(edges) <= MUTUAL_KNN_K * MUTUAL_KNN_ANCHORS // 2


def test_assortativity_matches_python(spark):
    from db_migrator_spark.operators.graph3 import (
        _sparse_arcs,
        graph_degree_assortativity,
    )

    row = graph_degree_assortativity(spark, SF01).collect()[0]
    arcs = [(r.u, r.v) for r in _sparse_arcs(spark, SF01).collect()]
    deg = {}
    for u, _ in arcs:
        deg[u] = deg.get(u, 0) + 1
    assert row.n_nodes == len(deg)
    assert row.n_arcs == len(arcs)
    m = len(arcs)
    sx = sum(deg[u] for u, _ in arcs)
    sxx = sum(deg[u] ** 2 for u, _ in arcs)
    sxy = sum(deg[u] * deg[v] for u, v in arcs)
    num, den = m * sxy - sx * sx, m * sxx - sx * sx
    want = (
        None
        if den == 0
        else abs(num) * 1_000_000 // den * (1 if num >= 0 else -1)
    )
    assert row.assortativity_micro == want
    # correlation coefficient bounds (micro scale)
    assert -1_000_000 <= row.assortativity_micro <= 1_000_000


def test_multitouch_credit_conservation(spark):
    from db_migrator_spark.operators.events2 import ATTR_WINDOW_US
    from db_migrator_spark.operators.events3 import (
        events_multitouch_attribution,
    )

    rows = {
        r.touch_type: r
        for r in events_multitouch_attribution(spark, SF01).collect()
    }
    assert set(rows) <= {"click", "view"} and rows
    ev = (
        load_table(spark, SF01, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .collect()
    )
    # python recount of per-purchase touch counts
    touches = {}
    for r in ev:
        if r.event_type in ("click", "view"):
            touches.setdefault(r.user_id, []).append(r.us)
    n_by_purchase = []
    for r in ev:
        if r.event_type == "purchase":
            n = sum(
                1
                for us in touches.get(r.user_id, ())
                if r.us - ATTR_WINDOW_US <= us < r.us
            )
            if n:
                n_by_purchase.append(n)
    # touch-row conservation: every touch of every purchase gets a row
    assert sum(n_by_purchase) == sum(r.n_touches for r in rows.values())
    # credit conservation: per purchase, credit sums to 1e6 minus
    # < n ppm of truncation; totals bound it tightly
    total_credit = sum(r.credit_ppm_sum for r in rows.values())
    exact = sum(1_000_000 for _ in n_by_purchase)
    lost_bound = sum(n for n in n_by_purchase if n > 2)
    assert exact - lost_bound <= total_credit <= exact


def test_audience_overlap_matches_python(spark):
    from db_migrator_spark.operators.events3 import events_audience_overlap

    rows = events_audience_overlap(spark, SF01).collect()
    ev = load_table(spark, SF01, "events").select(
        "user_id", "event_type"
    ).distinct().collect()
    aud = {}
    for r in ev:
        aud.setdefault(r.event_type, set()).add(r.user_id)
    types = sorted(aud)
    want_pairs = {
        (a, b)
        for i, a in enumerate(types)
        for b in types[i + 1 :]
        if aud[a] & aud[b]
    }
    assert {(r.type_a, r.type_b) for r in rows} == want_pairs
    for r in rows:
        inter = len(aud[r.type_a] & aud[r.type_b])
        union = len(aud[r.type_a] | aud[r.type_b])
        assert (r.n_a, r.n_b, r.n_both) == (
            len(aud[r.type_a]), len(aud[r.type_b]), inter
        )
        assert r.jaccard_ppm == inter * 1_000_000 // union


def test_average_precision_matches_python(spark):
    from db_migrator_spark.operators.evals import PR_LABEL_MIN_TOKENS
    from db_migrator_spark.operators.evals2 import eval_average_precision

    rows = {r.lang: r for r in eval_average_precision(spark, SF01).collect()}
    docs = (
        load_table(spark, SF01, "documents")
        .select(
            "lang",
            "doc_id",
            F.col("n_chars").alias("score"),
            (F.size(F.split("text", " ")) >= PR_LABEL_MIN_TOKENS).alias("label"),
        )
        .collect()
    )
    by_lang = {}
    for d in docs:
        by_lang.setdefault(d.lang, []).append(d)
    assert set(rows) == set(by_lang)
    for lang, ds in by_lang.items():
        ds.sort(key=lambda d: (-d.score, d.doc_id))
        cum = 0
        s = 0
        npos = 0
        for k, d in enumerate(ds, 1):
            if d.label:
                cum += 1
                npos += 1
                s += cum * 1_000_000 // k
        got = rows[lang]
        assert (got.n_docs, got.n_pos) == (len(ds), npos)
        assert got.ap_ppm == (s // npos if npos else None)
        # AP of a ranked list is at least the base rate (length score
        # correlates with the token label on this fixture)
        assert got.ap_ppm >= npos * 1_000_000 // len(ds)


def test_phash_median_rule_invariants(spark):
    from db_migrator_spark.operators.multimodal import (
        _PHASH_C,
        _PHASH_SCALE,
        multimodal_image_phash,
    )

    # basis sanity: orthonormal rows at the quantization scale
    # (row self-dot ~ SCALE^2; u=0 row is constant)
    row0 = [c for u, x, c in _PHASH_C if u == 0]
    assert len(set(row0)) == 1
    for u in range(8):
        row = [c for uu, x, c in _PHASH_C if uu == u]
        dot = sum(c * c for c in row)
        assert abs(dot - _PHASH_SCALE**2) <= 8 * _PHASH_SCALE

    rows = multimodal_image_phash(spark, SF01).collect()
    assert rows
    for r in rows:
        # DC bit is never set
        assert r.ph_lo % 2 == 0
        # strictly-above-median count is at most 31 of 63
        assert 0 <= r.n_ones <= 31
        assert 0 <= r.ph_hi < 1 << 32 and 0 <= r.ph_lo < 1 << 32
    # the hash carries information: many distinct values across docs
    assert len({(r.ph_hi, r.ph_lo) for r in rows}) > len(rows) // 2


def test_herfindahl_matches_python(spark):
    from fractions import Fraction

    from db_migrator_spark.operators.quality3 import q_herfindahl_index

    rows = {r.c_nationkey: r for r in q_herfindahl_index(spark, SF01).collect()}
    orders = load_table(spark, SF01, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint").alias("y"),
    ).collect()
    cust = {
        r.c_custkey: r.c_nationkey
        for r in load_table(spark, SF01, "customer").collect()
    }
    rev = {}
    for o in orders:
        nk = cust[o.o_custkey]
        rev.setdefault(nk, {}).setdefault(o.o_custkey, 0)
        rev[nk][o.o_custkey] += o.y
    assert set(rows) == set(rev)
    for nk, custs in rev.items():
        ys = list(custs.values())
        total = sum(ys)
        got = rows[nk]
        assert got.n_customers == len(ys)
        assert got.total_micro == total
        want = sum(y * y for y in ys) * 1_000_000 // (total * total)
        assert got.hhi_ppm == want
        # HHI bounds: 1e6/n (perfect competition) .. 1e6 (monopoly)
        assert want <= 1_000_000
        assert Fraction(sum(y * y for y in ys), total * total) >= Fraction(
            1, len(ys)
        )
        assert got.effective_n_micro == 1_000_000_000_000 // want


def test_multiple_regression_matches_fraction_cramer(spark):
    from fractions import Fraction

    from db_migrator_spark.operators.stats2 import q_multiple_regression

    got = q_multiple_regression(spark, SF01).collect()[0]
    li = load_table(spark, SF01, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.floor(F.col("l_extendedprice")).cast("bigint").alias("y"),
    ).collect()
    n = len(li)
    sx1 = sum(r.x1 for r in li)
    sx2 = sum(r.x2 for r in li)
    s11 = sum(r.x1 * r.x1 for r in li)
    s12 = sum(r.x1 * r.x2 for r in li)
    s22 = sum(r.x2 * r.x2 for r in li)
    sy = sum(r.y for r in li)
    s1y = sum(r.x1 * r.y for r in li)
    s2y = sum(r.x2 * r.y for r in li)

    def det3(m):
        return (
            m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
            - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
            + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
        )

    M = [[n, sx1, sx2], [sx1, s11, s12], [sx2, s12, s22]]
    rhs = [sy, s1y, s2y]
    d = det3(M)
    assert got.n == n and d != 0
    for j, name in enumerate(
        ("b0_microdollars", "b1_microdollars", "b2_microdollars")
    ):
        Mj = [row[:] for row in M]
        for i in range(3):
            Mj[i][j] = rhs[i]
        nj = det3(Mj)
        want = abs(nj) * 1_000_000 // d * (1 if nj >= 0 else -1)
        assert getattr(got, name) == want
        # exact Fraction solution agrees to the truncation ulp
        frac = Fraction(nj * 1_000_000, d)
        assert abs(Fraction(want) - frac) < 1
    # sanity: quantity coefficient is strongly positive (price scales
    # with quantity in TPC-H), discount coefficient near zero
    assert got.b1_microdollars > 0


def test_streaming_sliding_actives_equals_batch_recount(spark):
    from db_migrator_spark.streaming.windows import (
        SLIDING_ACTIVES_DELAY_US,
        streaming_sliding_actives,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_sliding_actives(spark, sf).collect()
    ev = (
        load_table(spark, sf, "events")
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .collect()
    )
    step = 900_000_000
    wins = {}
    max_us = max(r.us for r in ev)
    for r in ev:
        base = r.us // step * step
        for i in range(4):
            wins.setdefault(base - i * step, set()).add(r.user_id)
    closed = {
        s: users
        for s, users in wins.items()
        if s + 4 * step <= max_us - SLIDING_ACTIVES_DELAY_US
    }
    assert len(got) == len(closed)
    for r in got:
        s = int(r.w_start.timestamp() * 1_000_000)
        assert r.n_users == len(closed[s])
    # the held-back tail is real: some windows were NOT emitted
    assert len(wins) > len(closed)


def test_mann_whitney_u_identities_and_python(spark):
    from db_migrator_spark.operators.quality import DRIFT_PIVOT
    from db_migrator_spark.operators.stats3 import q_mann_whitney_u

    sf = "/root/testdata/sf0.001"
    rows = {r.o_orderpriority: r for r in q_mann_whitney_u(spark, sf).collect()}
    orders = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    ).collect()
    import datetime

    pivot = datetime.datetime.fromisoformat(DRIFT_PIVOT)
    by_prio = {}
    for o in orders:
        v = math.floor(o.o_totalprice * 1_000_000)
        by_prio.setdefault(o.o_orderpriority, []).append(
            (v, 1 if o.o_orderdate < pivot else 2)
        )
    assert set(rows) == set(by_prio)
    for prio, sample in by_prio.items():
        sample.sort()
        n1 = sum(1 for _, h in sample if h == 1)
        n2 = len(sample) - n1
        # doubled tie-averaged rank sum for group 1
        r1_x2 = 0
        i = 0
        while i < len(sample):
            j = i
            while j < len(sample) and sample[j][0] == sample[i][0]:
                j += 1
            avg2 = 2 * i + (j - i) + 1  # 2a + t - 1 with a = i+1
            r1_x2 += avg2 * sum(1 for k in range(i, j) if sample[k][1] == 1)
            i = j
        u1_x2 = r1_x2 - n1 * (n1 + 1)
        r = rows[prio]
        assert (r.n1, r.n2, r.u1_x2) == (n1, n2, u1_x2)
        # U1 + U2 = n1*n2 (doubled), and the effect size is in range
        assert 0 <= u1_x2 <= 2 * n1 * n2
        assert -1_000_000 <= r.rank_biserial_ppm <= 1_000_000
        assert r.rank_biserial_ppm == u1_x2 * 1_000_000 // (n1 * n2) - 1_000_000


def test_anova_fstat_close_to_float_f(spark):
    from db_migrator_spark.operators.stats3 import q_anova_fstat

    sf = "/root/testdata/sf0.001"
    row = q_anova_fstat(spark, sf).collect()[0]
    orders = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    groups = {}
    for o in orders:
        groups.setdefault(o.o_orderpriority, []).append(
            math.floor(o.o_totalprice * 100)
        )
    k, n = len(groups), sum(len(g) for g in groups.values())
    assert (row.k_groups, row.n_rows) == (k, n)
    s = sum(sum(g) for g in groups.values())
    q = sum(v * v for g in groups.values() for v in g)
    a = sum(sum(g) ** 2 // len(g) for g in groups.values())
    ssb, ssw = a - s * s // n, q - a
    assert (int(row.ssb_cents2), int(row.ssw_cents2)) == (ssb, ssw)
    f_float = (ssb / (k - 1)) / (ssw / (n - k))
    assert abs(row.f_ppm / 1e6 - f_float) < 1e-3


def test_spearman_matches_python_tiebreak(spark):
    from db_migrator_spark.operators.evals3 import eval_spearman_rank

    sf = "/root/testdata/sf0.001"
    rows = {r.lang: r for r in eval_spearman_rank(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").select(
        "lang", "doc_id", "n_chars", F.size(F.split("text", " ")).alias("y")
    ).collect()
    by_lang = {}
    for d in docs:
        by_lang.setdefault(d.lang, []).append(d)
    for lang, ds in by_lang.items():
        rx = {d.doc_id: i + 1 for i, d in enumerate(sorted(ds, key=lambda d: (d.n_chars, d.doc_id)))}
        ry = {d.doc_id: i + 1 for i, d in enumerate(sorted(ds, key=lambda d: (d.y, d.doc_id)))}
        sum_d2 = sum((rx[d.doc_id] - ry[d.doc_id]) ** 2 for d in ds)
        n = len(ds)
        r = rows[lang]
        assert (r.n, r.sum_d2) == (n, sum_d2)
        assert r.rho_ppm == 1_000_000 - 6 * sum_d2 * 1_000_000 // (n * (n * n - 1))


def test_mcc_matches_python(spark):
    from db_migrator_spark.operators.evals3 import eval_mcc
    from db_migrator_spark.operators.text import text_language_id

    sf = "/root/testdata/sf0.001"
    rows = {r.labeled_lang: r for r in eval_mcc(spark, sf).collect()}
    preds = text_language_id(spark, sf).select(
        "labeled_lang", "predicted_lang"
    ).collect()
    total = len(preds)
    langs = {p.labeled_lang for p in preds}
    assert set(rows) == langs
    for lang in langs:
        tp = sum(1 for p in preds if p.labeled_lang == lang and p.predicted_lang == lang)
        fp = sum(1 for p in preds if p.labeled_lang != lang and p.predicted_lang == lang)
        fn = sum(1 for p in preds if p.labeled_lang == lang and p.predicted_lang != lang)
        tn = total - tp - fp - fn
        r = rows[lang]
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        if den == 0:
            assert r.mcc_milli == 0
        else:
            num = tp * tn - fp * fn
            expect = math.isqrt(num * num * 1_000_000 // den)
            if num < 0:
                expect = -expect
            assert r.mcc_milli == expect
            mcc_float = num / math.sqrt(den)
            assert abs(r.mcc_milli / 1000 - mcc_float) < 2e-3


def test_clustering_coefficient_matches_python(spark):
    from db_migrator_spark.operators.graph2 import KCORE_MIN_COOC
    from db_migrator_spark.operators.graph4 import graph_clustering_coefficient

    sf = "/root/testdata/sf0.001"
    got = graph_clustering_coefficient(spark, sf).collect()
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey").collect()
    by_order = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, []).append(r.l_partkey)
    from collections import Counter

    # lineitem-pair co-occurrence (a part can repeat within an order
    # under different suppliers — each row pair counts, the engine's
    # self-join semantics)
    cooc = Counter()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                if ps[i] != ps[j]:
                    cooc[(ps[i], ps[j])] += 1
    adj = {}
    for (u, v), w in cooc.items():
        if w >= KCORE_MIN_COOC:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    tri = {}
    for u, nbrs in adj.items():
        ns = sorted(nbrs)
        t = 0
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                if ns[j] in adj.get(ns[i], ()):
                    t += 1
        tri[u] = t
    local = [r for r in got if r.node != -1]
    assert {r.node for r in local} == {u for u, n in adj.items() if len(n) >= 2}
    tot_tri = 0
    tot_wedges = 0
    for r in local:
        d = len(adj[r.node])
        assert r.degree == d
        assert r.tri_count == tri[r.node]
        assert r.cc_ppm == 2 * tri[r.node] * 1_000_000 // (d * (d - 1))
        tot_tri += tri[r.node]
        tot_wedges += d * (d - 1) // 2
    g = [r for r in got if r.node == -1][0]
    assert g.tri_count == tot_tri // 3
    assert g.cc_ppm == (tot_tri * 1_000_000 // tot_wedges if tot_wedges else 0)


def test_resource_allocation_bounds_and_nonadjacency(spark):
    from db_migrator_spark.operators.graph3 import LINKPRED_HUB_CAP, _sparse_arcs
    from db_migrator_spark.operators.graph4 import graph_resource_allocation

    sf = "/root/testdata/sf0.001"
    got = graph_resource_allocation(spark, sf).collect()
    assert got, "fixture graph should yield predicted links"
    edges = {
        (r.u, r.v)
        for r in _sparse_arcs(spark, sf).filter("u < v").collect()
    }
    for r in got:
        assert (r.a, r.b) not in edges  # predicted, not existing
        assert r.a < r.b
        # each common neighbor contributes 1e6 div deg(w) with
        # 1 <= deg(w) <= cap
        assert r.cn * (1_000_000 // LINKPRED_HUB_CAP) <= r.ra_micro <= r.cn * 1_000_000
    # sorted by score desc then pair
    scores = [(-r.ra_micro, r.a, r.b) for r in got]
    assert scores == sorted(scores)


def test_kendall_tau_matches_python_bruteforce(spark):
    from db_migrator_spark.operators.evals3 import eval_kendall_tau

    sf = "/root/testdata/sf0.001"
    rows = {r.lang: r for r in eval_kendall_tau(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").select(
        "lang", "n_chars", F.size(F.split("text", " ")).alias("y")
    ).collect()
    by_lang = {}
    for d in docs:
        by_lang.setdefault(d.lang, []).append((d.n_chars, d.y))
    for lang, pts in by_lang.items():
        c = d_ = tx = ty = 0
        n = len(pts)
        for i in range(n):
            for j in range(i + 1, n):
                dx = pts[j][0] - pts[i][0]
                dy = pts[j][1] - pts[i][1]
                if dx == 0 and dy == 0:
                    tx += 1
                    ty += 1
                elif dx == 0:
                    tx += 1
                elif dy == 0:
                    ty += 1
                elif (dx > 0) == (dy > 0):
                    c += 1
                else:
                    d_ += 1
        n0 = n * (n - 1) // 2
        r = rows[lang]
        assert (r.concordant, r.discordant) == (c, d_)
        assert (r.n1, r.n2) == (tx, ty)
        den = (n0 - tx) * (n0 - ty)
        if den == 0:
            assert r.tau_b_milli == 0
        else:
            expect = math.isqrt((c - d_) ** 2 * 1_000_000 // den)
            if c < d_:
                expect = -expect
            assert r.tau_b_milli == expect
            # sanity vs float tau-b
            assert abs(r.tau_b_milli / 1000 - (c - d_) / math.sqrt(den)) < 2e-3


def test_cramers_v_matches_python(spark):
    from db_migrator_spark.operators.stats3 import q_cramers_v

    sf = "/root/testdata/sf0.001"
    row = q_cramers_v(spark, sf).collect()[0]
    orders = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_orderstatus"
    ).collect()
    from collections import Counter

    cells = Counter((o.o_orderpriority, o.o_orderstatus) for o in orders)
    rm = Counter()
    cm = Counter()
    for (p, s), c in cells.items():
        rm[p] += c
        cm[s] += c
    n = sum(cells.values())
    chi2_micro = sum(
        (obs * n - rm[p] * cm[s]) ** 2 * 1_000_000 // (n * rm[p] * cm[s])
        for (p, s), obs in cells.items()
    )
    assert row.n == n
    assert (row.n_rows_dim, row.n_cols_dim) == (len(rm), len(cm))
    assert row.chi2_micro == chi2_micro
    m = min(len(rm) - 1, len(cm) - 1)
    assert row.v_milli == math.isqrt(chi2_micro // (n * m))
    assert 0 <= row.v_milli <= 1000


def test_audio_zcr_matches_python_decode(spark):
    from db_migrator_spark.operators.multimodal import (
        FRAME_LEN,
        WAV_SAMPLES,
        _N_FRAMES,
        multimodal_audio_zcr,
    )

    sf = "/root/testdata/sf0.001"
    got = multimodal_audio_zcr(spark, sf).collect()
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    expect = {}
    for d in docs:
        txt = d.text.encode("ascii", "replace")
        if not txt:
            continue
        data = (txt * (2 * WAV_SAMPLES // len(txt) + 1))[: 2 * WAV_SAMPLES]
        import struct

        samples = struct.unpack(f"<{WAV_SAMPLES}h", data)
        for fid in range(_N_FRAMES):
            fr = samples[fid * FRAME_LEN : (fid + 1) * FRAME_LEN]
            expect[(d.doc_id, fid)] = sum(
                1 for a, b in zip(fr, fr[1:]) if a * b < 0
            )
    assert len(got) == len(expect)
    for r in got:
        assert r.n_zc == expect[(r.doc_id, r.frame_id)]


def test_lifecycle_states_partition_dau(spark):
    from db_migrator_spark.operators.events4 import (
        RESURRECT_GAP_DAYS,
        events_user_lifecycle_states,
    )

    sf = "/root/testdata/sf0.001"
    got = events_user_lifecycle_states(spark, sf).collect()
    assert got, "fixture has activity"
    # the four states partition DAU on every day
    for r in got:
        assert r.n_new + r.n_retained + r.n_returning + r.n_resurrected == r.dau
    # recompute from raw events
    ev = load_table(spark, sf, "events").select(
        "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
    ).distinct().collect()
    by_user = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e.day)
    from collections import Counter

    states = Counter()
    for days in by_user.values():
        days.sort()
        prev = None
        for d in days:
            if prev is None:
                s = "new"
            else:
                gap = (d - prev).days
                s = (
                    "retained"
                    if gap == 1
                    else "returning"
                    if gap <= RESURRECT_GAP_DAYS
                    else "resurrected"
                )
            states[(d, s)] += 1
            prev = d
    for r in got:
        assert r.n_new == states.get((r.day, "new"), 0)
        assert r.n_retained == states.get((r.day, "retained"), 0)
        assert r.n_returning == states.get((r.day, "returning"), 0)
        assert r.n_resurrected == states.get((r.day, "resurrected"), 0)


def test_largest_remainder_allocation_sums_exactly(spark):
    from db_migrator_spark.operators.events4 import (
        ALLOCATION_BUDGET,
        q_largest_remainder_allocation,
    )

    sf = "/root/testdata/sf0.001"
    got = q_largest_remainder_allocation(spark, sf).collect()
    assert sum(r.final_share for r in got) == ALLOCATION_BUDGET
    total_mass = sum(r.mass for r in got)
    for r in got:
        # Hamilton bracketing: floor <= final <= floor + 1, and floor
        # is the exact proportional floor
        assert r.floor_share == r.mass * ALLOCATION_BUDGET // total_mass
        assert r.final_share in (r.floor_share, r.floor_share + 1)
        assert r.gets_extra == (r.final_share == r.floor_share + 1)


def test_sobel_matches_python_convolution(spark):
    from db_migrator_spark.operators.multimodal import (
        PPM_H,
        PPM_W,
        STRONG_GRAD2,
        _PPM_PIXELS,
        multimodal_image_sobel,
    )
    import re

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: r for r in multimodal_image_sobel(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    checked = 0
    for d in docs:
        txt = re.sub(r"[^\x20-\x7E]", "", d.text)
        if not txt:
            continue
        raw = (txt * (_PPM_PIXELS // len(txt) + 1))[:_PPM_PIXELS].encode("ascii")
        gray = [
            [
                raw[(r * PPM_W + c) * 3]
                + raw[(r * PPM_W + c) * 3 + 1]
                + raw[(r * PPM_W + c) * 3 + 2]
                for c in range(PPM_W)
            ]
            for r in range(PPM_H)
        ]
        energy = mx = strong = 0
        for r in range(1, PPM_H - 1):
            for c in range(1, PPM_W - 1):
                gx = gy = 0
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        gx += dc * (2 - abs(dr)) * gray[r + dr][c + dc]
                        gy += dr * (2 - abs(dc)) * gray[r + dr][c + dc]
                g2 = gx * gx + gy * gy
                energy += g2
                mx = max(mx, g2)
                strong += g2 > STRONG_GRAD2
        row = got[d.doc_id]
        assert (row.edge_energy, row.max_grad2, row.n_strong) == (
            energy,
            mx,
            strong,
        )
        checked += 1
    assert checked == len(got)


def test_streaming_scd2_history_chains_and_matches_batch(spark):
    from db_migrator_spark.streaming.scd2_stream import (
        streaming_scd2_maintenance,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_scd2_maintenance(spark, sf).collect()
    by_cust = {}
    for r in got:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        # half-open chaining: each version closes exactly where the
        # next opens; only the last is open
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from
            assert not a.is_current
            # a real change: consecutive versions differ
            assert a.attr != b.attr
        assert vs[-1].valid_to is None and vs[-1].is_current
    # equals the one-shot batch collapse (same logic, no micro-batches)
    ev = load_table(spark, sf, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
        "o_orderpriority",
    ).collect()
    daily = {}
    for e in ev:
        k = (e.o_custkey, e.d)
        if k not in daily or e.o_orderkey > daily[k][0]:
            daily[k] = (e.o_orderkey, e.o_orderpriority)
    hist = {}
    for (cust, d), (_, attr) in sorted(daily.items(), key=lambda kv: (kv[0][0], kv[0][1])):
        vs = hist.setdefault(cust, [])
        if not vs or vs[-1][1] != attr:
            vs.append((d, attr))
    for cust, vs in hist.items():
        rows = by_cust[cust]
        assert len(rows) == len(vs)
        for r, (d, attr) in zip(rows, vs):
            assert (r.valid_from, r.attr) == (d, attr)


def test_pca_power_exact_iterate_and_rayleigh_bounds(spark):
    import numpy as np

    from db_migrator_spark.operators.similarity_pca import (
        POWER_ITERS,
        embedding_pca_power,
    )

    sf = "/root/testdata/sf0.001"
    got = embedding_pca_power(spark, sf).collect()
    assert [r.i for r in got] == list(range(64))
    v = [r.v_micro for r in got]
    assert max(abs(x) for x in v) == 1_000_000  # rescale contract
    # bit-exact replication of the integer pipeline in plain Python
    emb = load_table(spark, sf, "embeddings").select("embedding").collect()
    q = [[math.floor(float(x) * 1_000_000) for x in r.embedding] for r in emb]
    n, dim = len(q), 64
    s_ = [sum(row[i] for row in q) for i in range(dim)]
    c = [
        [
            n * sum(row[i] * row[j] for row in q) - s_[i] * s_[j]
            for j in range(dim)
        ]
        for i in range(dim)
    ]
    for r in got:
        assert int(r.cov_diag_scaled) == c[r.i][r.i]
    vv = [1_000_000] * dim
    for _ in range(POWER_ITERS):
        w = [sum(c[i][j] * vv[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        # truncation toward zero, both engines' div contract
        vv = [
            (abs(x) * 1_000_000 // m) * (1 if x >= 0 else -1) for x in w
        ]
    sgn = next((1 if x > 0 else -1 for x in vv if x != 0), 1)
    vv = [sgn * x for x in vv]
    assert v == vv
    # Rayleigh invariants: any iterate's quotient is <= lambda_1 and
    # this one must beat the uniform 1/64 share
    cnp = np.array(c, dtype=float)
    l1 = np.linalg.eigvalsh(cnp)[-1]
    share = got[0].var_share_ppm / 1e6
    assert share <= l1 / np.trace(cnp) + 1e-3
    assert share > 1 / 64
    # sign contract: first nonzero component positive
    nz = [x for x in v if x != 0]
    assert nz[0] > 0


def test_winsorize_bounds_and_means(spark):
    from db_migrator_spark.operators.quality4 import (
        WINSOR_HI_PCT,
        WINSOR_LO_PCT,
        q_winsorize,
    )

    sf = "/root/testdata/sf0.001"
    rows = {r.o_orderpriority: r for r in q_winsorize(spark, sf).collect()}
    orders = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by_prio = {}
    for o in orders:
        by_prio.setdefault(o.o_orderpriority, []).append(
            math.floor(o.o_totalprice * 1_000_000)
        )
    for prio, vs in by_prio.items():
        vs.sort()
        n = len(vs)
        p05 = vs[math.ceil(n * WINSOR_LO_PCT / 100.0) - 1]
        p95 = vs[math.ceil(n * WINSOR_HI_PCT / 100.0) - 1]
        r = rows[prio]
        assert (r.n, r.p05_micro, r.p95_micro) == (n, p05, p95)
        assert r.n_clipped_low == sum(1 for v in vs if v < p05)
        assert r.n_clipped_high == sum(1 for v in vs if v > p95)
        w = [min(max(v, p05), p95) for v in vs]
        assert r.raw_mean_micro == sum(vs) // n
        assert r.winsor_mean_micro == sum(w) // n
        # winsorized mean is inside the clip bounds
        assert p05 <= r.winsor_mean_micro <= p95


def test_impute_missing_mass_and_mask(spark):
    import hashlib

    from db_migrator_spark.operators.quality4 import (
        IMPUTE_MASK_DIGITS,
        q_impute_missing,
    )

    sf = "/root/testdata/sf0.001"
    got = q_impute_missing(spark, sf).collect()
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        "value",
    ).collect()

    def masked(eid):
        return hashlib.md5(str(eid).encode()).hexdigest()[-1] in IMPUTE_MASK_DIGITS

    def tdiv(s, n):
        return s // n if s >= 0 else -((-s) // n)

    obs = [e for e in ev if not masked(e.event_id)]
    user_mean = {}
    for e in obs:
        user_mean.setdefault(e.user_id, []).append(
            math.floor(e.value * 1_000_000)
        )
    gmean = tdiv(
        sum(v for vs in user_mean.values() for v in vs),
        sum(len(vs) for vs in user_mean.values()),
    )
    user_mean = {u: tdiv(sum(vs), len(vs)) for u, vs in user_mean.items()}
    from collections import defaultdict

    exp = defaultdict(lambda: [0, 0, 0, 0])
    for e in ev:
        d = exp[e.day]
        if masked(e.event_id):
            d[1] += 1
            d[3] += user_mean.get(e.user_id, gmean)
        else:
            d[0] += 1
            d[2] += math.floor(e.value * 1_000_000)
    assert len(got) == len(exp)
    for r in got:
        d = exp[r.day]
        assert (r.n_observed, r.n_missing) == (d[0], d[1])
        assert (int(r.observed_total_micro), int(r.imputed_total_micro)) == (
            d[2],
            d[3],
        )


def test_span_corruption_plan_properties(spark):
    import hashlib

    from db_migrator_spark.operators.corpus8 import (
        CORRUPT_BLOCK,
        SPAN_LEN,
        corpus_span_corruption_plan,
    )

    sf = "/root/testdata/sf0.001"
    got = corpus_span_corruption_plan(spark, sf).collect()
    assert got
    docs = {
        d.doc_id: len(d.text.split(" "))
        for d in load_table(spark, sf, "documents").select(
            "doc_id", "text"
        ).collect()
    }
    from collections import defaultdict

    spans = defaultdict(list)
    for r in got:
        spans[r.doc_id].append(r)
        assert docs[r.doc_id] == r.n_tokens
        assert r.n_blocks == r.n_tokens // CORRUPT_BLOCK
        # span inside its own block -> never overlaps, never escapes
        assert (
            r.block * CORRUPT_BLOCK
            <= r.span_start
            <= (r.block + 1) * CORRUPT_BLOCK - SPAN_LEN
        )
        # md5 lottery replicated
        h = hashlib.md5(f"{r.doc_id}:{r.block}".encode()).hexdigest()
        off = int(h[:8], 16) % (CORRUPT_BLOCK - SPAN_LEN + 1)
        assert r.span_start == r.block * CORRUPT_BLOCK + off
    for doc_id, rs in spans.items():
        assert len(rs) == rs[0].n_blocks  # one span per full block
    # docs shorter than one block are excluded
    assert all(
        docs[d] >= CORRUPT_BLOCK for d in spans
    ) and all(d in spans for d, n in docs.items() if n >= CORRUPT_BLOCK)


def test_bigram_novelty_partition_and_firsts(spark):
    from db_migrator_spark.operators.corpus8 import text_bigram_novelty

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: r for r in text_bigram_novelty(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    first = {}
    per_doc = {}
    for d in sorted(docs, key=lambda d: d.doc_id):
        ws = d.text.split(" ")
        bgs = {f"{a} {b}" for a, b in zip(ws, ws[1:])}
        per_doc[d.doc_id] = bgs
        for bg in bgs:
            first.setdefault(bg, d.doc_id)
    for doc_id, bgs in per_doc.items():
        if not bgs:
            continue
        r = got[doc_id]
        novel = sum(1 for bg in bgs if first[bg] == doc_id)
        assert (r.n_bigrams, r.n_novel) == (len(bgs), novel)
        assert r.novelty_ppm == novel * 1_000_000 // len(bgs)
    # total novelty equals the vocabulary size
    assert sum(r.n_novel for r in got.values()) == len(first)


def test_asof_tolerance_rejects_stale(spark):
    from db_migrator_spark.operators.relational2 import (
        ASOF_TOLERANCE_DAYS,
        q_asof_tolerance_join,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.o_orderkey: r for r in q_asof_tolerance_join(spark, sf).collect()}
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
    ).collect()
    by_cust = {}
    for o in orders:
        by_cust.setdefault(o.o_custkey, []).append(o)
    n_match = n_reject = n_first = 0
    for cust, os_ in by_cust.items():
        os_.sort(key=lambda o: (o.d, o.o_orderkey))
        prev = None
        for o in os_:
            r = got[o.o_orderkey]
            if prev is None:
                assert r.asof_prev_orderkey is None
                n_first += 1
            else:
                gap = (o.d - prev.d).days
                if gap <= ASOF_TOLERANCE_DAYS:
                    assert r.asof_prev_orderkey == prev.o_orderkey
                    assert r.staleness_days == gap
                    n_match += 1
                else:
                    assert r.asof_prev_orderkey is None
                    assert r.staleness_days is None
                    n_reject += 1
            prev = o
    # the bound genuinely bites in both directions
    assert n_match > 0 and n_reject > 0 and n_first > 0


def test_image_histogram_partitions_pixels(spark):
    from db_migrator_spark.operators.multimodal import (
        HIST_BINS,
        PPM_H,
        PPM_W,
        multimodal_image_histogram,
    )

    sf = "/root/testdata/sf0.001"
    got = multimodal_image_histogram(spark, sf).collect()
    from collections import defaultdict

    per_doc = defaultdict(dict)
    for r in got:
        per_doc[r.doc_id][r.bin] = r.n_px
    for doc_id, bins in per_doc.items():
        assert sorted(bins) == list(range(HIST_BINS))
        assert sum(bins.values()) == PPM_W * PPM_H


def test_late_data_audit_drops_stragglers_only(spark):
    import datetime

    from db_migrator_spark.streaming.late_data import (
        streaming_late_data_audit,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_late_data_audit(spark, sf).collect()
    ev = load_table(spark, sf, "events").select(
        F.col("ts").cast("timestamp").alias("ts")
    ).collect()
    strag_lo = datetime.datetime(2024, 1, 22)
    strag_hi = datetime.datetime(2024, 1, 23)
    on_time = [e.ts for e in ev if not (strag_lo <= e.ts < strag_hi)]
    stragglers = [e.ts for e in ev if strag_lo <= e.ts < strag_hi]
    assert stragglers, "fixture must contain the straggler day"
    final_wm = max(on_time) - datetime.timedelta(hours=2)
    from collections import Counter

    per_window = Counter(
        t.replace(minute=0, second=0, microsecond=0) for t in on_time
    )
    expected = {
        w: n
        for w, n in per_window.items()
        if w + datetime.timedelta(hours=1) <= final_wm
    }
    got_map = {r.w_start: r.n for r in got}
    # every straggler row was dropped; straggler-only windows missing
    assert got_map == expected
    assert not any(strag_lo <= w < strag_hi for w in got_map)
    # the on-time tail past the final watermark is held back, not lost
    assert len(per_window) > len(expected)


def test_pipe_syntax_equals_dataframe_equivalent(spark):
    from db_migrator_spark.operators.relational7 import q_sql_pipe_syntax

    sf = "/root/testdata/sf0.001"
    got = {r.o_orderpriority: r for r in q_sql_pipe_syntax(spark, sf).collect()}
    df = (
        load_table(spark, sf, "orders")
        .filter("o_orderdate >= DATE '1995-01-01'")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents"),
        )
        .filter("n >= 10")
        .collect()
    )
    assert {r.o_orderpriority for r in df} == set(got)
    for r in df:
        g = got[r.o_orderpriority]
        assert (g.n, g.cents, g.mean_cents) == (r.n, r.cents, r.cents // r.n)


def test_naive_forecast_backtest_lag7(spark):
    from db_migrator_spark.operators.events4 import (
        FORECAST_SEASON_DAYS,
        events_naive_forecast_backtest,
    )

    sf = "/root/testdata/sf0.001"
    got = events_naive_forecast_backtest(spark, sf).collect()
    days = [r.day for r in got]
    actual = {r.day: r.actual_micro for r in got}
    mae_num = mae_den = 0
    for r in got:
        import datetime

        src = r.day - datetime.timedelta(days=FORECAST_SEASON_DAYS)
        if src in actual:
            assert r.forecast_micro == actual[src]
            assert r.err_micro == r.actual_micro - r.forecast_micro
            assert r.abs_err_micro == abs(r.err_micro)
            mae_num += r.abs_err_micro
            mae_den += 1
            assert r.mae_to_date_micro == mae_num // mae_den
        else:
            assert r.forecast_micro is None and r.abs_err_micro is None
    assert mae_den > 0  # the backtest scored real days
    assert days == sorted(days)


def test_ab_significance_matches_python_ztest(spark):
    import hashlib

    from db_migrator_spark.operators.events4 import events_ab_significance

    sf = "/root/testdata/sf0.001"
    row = events_ab_significance(spark, sf).collect()[0]
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type"
    ).collect()
    counts = {}
    for e in ev:
        arm = (
            "A"
            if hashlib.md5(f"ab-v1{e.user_id}".encode()).hexdigest()[:2] < "80"
            else "B"
        )
        k = (e.user_id, arm)
        p, er = counts.get(k, (0, 0))
        counts[k] = (
            p + int(e.event_type == "purchase"),
            er + int(e.event_type == "error"),
        )
    users = {k: int(p > er) for k, (p, er) in counts.items()}
    n1 = sum(1 for (_, a) in users if a == "A")
    x1 = sum(v for (u, a), v in users.items() if a == "A")
    n2 = len(users) - n1
    x2 = sum(users.values()) - x1
    assert (row.n1, row.x1, row.n2, row.x2) == (n1, x1, n2, x2)
    num = x1 * n2 - x2 * n1
    expect = (1 if num >= 0 else -1) * (
        (num * num * (n1 + n2) * 1000)
        // (n1 * n2 * (x1 + x2) * (n1 + n2 - x1 - x2))
    )
    assert row.z2_signed_milli == expect
    # cross-check against the float z^2
    p1, p2, p = x1 / n1, x2 / n2, (x1 + x2) / (n1 + n2)
    z2 = (p1 - p2) ** 2 / (p * (1 - p) * (1 / n1 + 1 / n2))
    assert abs(abs(row.z2_signed_milli) / 1000 - z2) < 2e-3


def test_full_outer_stream_join_kinds_partition(spark):
    from db_migrator_spark.streaming.joins import streaming_click_full_outer

    sf = "/root/testdata/sf0.001"
    got = streaming_click_full_outer(spark, sf).collect()
    kinds = {r.kind for r in got}
    assert kinds == {"attributed", "unconverted_click", "organic_purchase"}
    for r in got:
        if r.kind == "attributed":
            assert r.click_id is not None and r.purchase_id is not None
        elif r.kind == "unconverted_click":
            assert r.click_id is not None and r.purchase_id is None
        else:
            assert r.click_id is None and r.purchase_id is not None
    # every click and every purchase appears at least once
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type"
    ).collect()
    clicks = {e.event_id for e in ev if e.event_type == "click"}
    purchases = {e.event_id for e in ev if e.event_type == "purchase"}
    assert {r.click_id for r in got if r.click_id is not None} == clicks
    assert {r.purchase_id for r in got if r.purchase_id is not None} == purchases


def test_bfs_distances_match_python(spark):
    from db_migrator_spark.operators.graph3 import _sparse_arcs
    from db_migrator_spark.operators.graph4 import (
        BFS_N_SEEDS,
        BFS_ROUNDS,
        graph_bfs_distances,
    )

    sf = "/root/testdata/sf0.001"
    got = {(r.seed, r.node): r.dist for r in graph_bfs_distances(spark, sf).collect()}
    arcs = _sparse_arcs(spark, sf).collect()
    adj = {}
    for a in arcs:
        adj.setdefault(a.u, set()).add(a.v)
    seeds = sorted(adj)[:BFS_N_SEEDS]
    from collections import deque

    expect = {}
    for s in seeds:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            n = dq.popleft()
            if dist[n] >= BFS_ROUNDS:
                continue
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = dist[n] + 1
                    dq.append(m)
        for n, d in dist.items():
            expect[(s, n)] = d
    assert got == expect


def test_seq_len_histogram_bins_and_shares(spark):
    from db_migrator_spark.operators.corpus8 import corpus_seq_len_histogram

    sf = "/root/testdata/sf0.001"
    got = corpus_seq_len_histogram(spark, sf).collect()
    docs = load_table(spark, sf, "documents").select("text").collect()
    lens = [len(d.text.split(" ")) for d in docs]
    from collections import Counter

    bins = Counter()
    toks = Counter()
    for n in lens:
        b = 0 if n <= 1 else n.bit_length() - 1
        bins[b] += 1
        toks[b] += n
    total = sum(toks.values())
    assert {r.bin for r in got} == set(bins)
    cum = 0
    for r in sorted(got, key=lambda r: r.bin):
        assert r.min_len == 2 ** r.bin
        assert (r.n_docs, r.tokens) == (bins[r.bin], toks[r.bin])
        cum += toks[r.bin]
        assert r.cum_token_share_ppm == cum * 1_000_000 // total
    assert sorted(got, key=lambda r: r.bin)[-1].cum_token_share_ppm == 1_000_000


def test_xmr_chart_matches_python(spark):
    from db_migrator_spark.operators.quality4 import (
        XMR_E2_DEN,
        XMR_E2_NUM,
        q_xmr_control_chart,
    )

    sf = "/root/testdata/sf0.001"
    got = q_xmr_control_chart(spark, sf).collect()
    ev = load_table(spark, sf, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"), "value"
    ).collect()
    from collections import defaultdict

    daily = defaultdict(int)
    for e in ev:
        daily[e.day] += math.floor(e.value * 1_000_000)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    mrs = [abs(b - a) for a, b in zip(xs, xs[1:])]
    s = sum(xs)
    center = s // len(xs) if s >= 0 else -((-s) // len(xs))
    band = sum(mrs) * XMR_E2_NUM // (len(mrs) * XMR_E2_DEN)
    for i, r in enumerate(sorted(got, key=lambda r: r.day)):
        assert r.x == xs[i]
        assert r.mr == (None if i == 0 else mrs[i - 1])
        assert (r.center, r.lcl, r.ucl) == (center, center - band, center + band)
        assert r.out_of_control == (xs[i] < center - band or xs[i] > center + band)


def test_top_words_udtf_analyze_and_values(spark):
    from db_migrator_spark.operators.udtf_ops import (
        TOPWORDS_K,
        _make_top_words_udtf,
        text_top_words_udtf,
    )

    sf = "/root/testdata/sf0.001"
    got = text_top_words_udtf(spark, sf).collect()
    from collections import Counter, defaultdict

    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    per_doc = defaultdict(list)
    for r in got:
        per_doc[r.doc_id].append(r)
    for d in docs:
        words = [w for w in d.text.split(" ") if w]
        if not words:
            assert d.doc_id not in per_doc
            continue
        top = sorted(Counter(words).items(), key=lambda wc: (-wc[1], wc[0]))[
            :TOPWORDS_K
        ]
        rows = sorted(per_doc[d.doc_id], key=lambda r: r.rank)
        assert [(r.word, r.cnt) for r in rows] == top
        assert [r.rank for r in rows] == list(range(1, len(top) + 1))
    # analyze() rejects a bad literal at plan time
    spark.udtf.register("top_words_udtf_t", _make_top_words_udtf())
    import pytest

    with pytest.raises(Exception, match="positive integer"):
        spark.sql(
            "SELECT * FROM top_words_udtf_t('a b', 0)"
        ).collect()


def test_dedup_conflict_audit_matches_python(spark):
    from db_migrator_spark.operators.dedup import (
        PREFIX_WORDS,
        dedup_conflict_audit,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.prefix: r for r in dedup_conflict_audit(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source"
    ).collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for d in docs:
        groups[" ".join(d.text.split(" ")[:PREFIX_WORDS])].append(d)
    multi = {p: ds for p, ds in groups.items() if len(ds) >= 2}
    assert set(got) == set(multi)
    for p, ds in multi.items():
        r = got[p]
        assert r.keep_doc_id == min(d.doc_id for d in ds)
        assert r.n_members == len(ds)
        assert r.n_langs == len({d.lang for d in ds})
        assert r.n_sources == len({d.source for d in ds})
        assert r.metadata_conflict == (r.n_langs > 1 or r.n_sources > 1)


def test_transpose_metrics_shape_and_values(spark):
    from db_migrator_spark.operators.relational7 import q_transpose_metrics

    sf = "/root/testdata/sf0.001"
    got = q_transpose_metrics(spark, sf).collect()
    assert [r.key for r in got] == ["n_customers", "n_orders", "sum_cents"]
    orders = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_custkey", "o_totalprice"
    ).collect()
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, set()])
    for o in orders:
        a = agg[o.o_orderpriority]
        a[0] += 1
        a[1] += math.floor(o.o_totalprice * 100)
        a[2].add(o.o_custkey)
    by_key = {r.key: r for r in got}
    for prio, (n, cents, custs) in agg.items():
        assert by_key["n_orders"][prio] == n
        assert by_key["sum_cents"][prio] == cents
        assert by_key["n_customers"][prio] == len(custs)


def test_sumsq_arrow_matches_python(spark):
    from db_migrator_spark.operators.similarity import embedding_sumsq_arrow

    sf = "/root/testdata/sf0.001"
    got = {r.vec_id: r.sumsq_milli2 for r in embedding_sumsq_arrow(spark, sf).collect()}
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding").collect()
    assert len(got) == len(emb)
    for r in emb:
        expect = sum(math.floor(float(x) * 1000) ** 2 for x in r.embedding)
        assert got[r.vec_id] == expect


def test_incremental_retract_equals_recompute(spark):
    import hashlib

    from db_migrator_spark.operators.incremental import (
        RETRACT_DELETE_DIGITS,
        RETRACT_UPDATE_DIGITS,
        q_incremental_agg_retract,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.o_orderpriority: r for r in q_incremental_agg_retract(spark, sf).collect()}
    orders = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    from collections import defaultdict

    post = defaultdict(lambda: [0, 0])
    n_del = n_upd = 0
    for o in orders:
        tag = hashlib.md5(str(o.o_orderkey).encode()).hexdigest()[-1]
        cents = math.floor(o.o_totalprice * 100)
        if tag in RETRACT_DELETE_DIGITS:
            n_del += 1
            continue
        if tag in RETRACT_UPDATE_DIGITS:
            n_upd += 1
            cents += cents // 10
        a = post[o.o_orderpriority]
        a[0] += 1
        a[1] += cents
    assert n_del > 0 and n_upd > 0  # the CDC batch genuinely bites
    assert set(got) == set(post)
    for prio, (n, cents) in post.items():
        assert (got[prio].n, int(got[prio].sum_cents)) == (n, cents)


def test_minhash_portable_recall_and_exactness(spark):
    from db_migrator_spark.operators.dedup import (
        PORTABLE_JACCARD_PPM,
        dedup_minhash_portable,
    )

    sf = "/root/testdata/sf0.001"
    got = {(r.d1, r.d2): r.jaccard_ppm for r in dedup_minhash_portable(spark, sf).collect()}
    # ground truth: exact jaccard over string 3-gram shingles
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    sh = {}
    for d in docs:
        w = d.text.split(" ")
        if len(w) >= 3:
            sh[d.doc_id] = {
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            }
    truth = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter:
                ppm = inter * 1_000_000 // (len(sh[a]) + len(sh[b]) - inter)
                if ppm >= PORTABLE_JACCARD_PPM:
                    truth[(a, b)] = ppm
    # every emitted pair is a true pair with the exact score
    for pair, ppm in got.items():
        assert truth.get(pair) == ppm
    # banded recall over the true near-dup set
    if truth:
        recall = len(got) / len(truth)
        assert recall >= 0.8, (len(got), len(truth))


def test_lsh_portable_exactness_and_recall(spark):
    from db_migrator_spark.operators.similarity_lsh2 import (
        LSH2_COS_MILLI,
        similarity_lsh_portable,
    )

    sf = "/root/testdata/sf0.001"
    got = {(r.v1, r.v2): r.cos_milli for r in similarity_lsh_portable(spark, sf).collect()}
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding").collect()
    q = {r.vec_id: [math.floor(float(x) * 1000) for x in r.embedding] for r in emb}
    # every emitted pair carries the exact signed isqrt cosine
    truth = {}
    ids = sorted(q)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            dot = sum(x * y for x, y in zip(q[a], q[b]))
            na = sum(x * x for x in q[a])
            nb = sum(x * x for x in q[b])
            m = math.isqrt(dot * dot * 1_000_000 // (na * nb))
            cm = -m if dot < 0 else m
            if cm >= LSH2_COS_MILLI:
                truth[(a, b)] = cm
    for pair, cm in got.items():
        assert truth.get(pair) == cm
    # banded recall floor over the true >= threshold pairs
    if truth:
        assert len(got) / len(truth) >= 0.5, (len(got), len(truth))


def test_simhash_portable_bits_and_verify(spark):
    import hashlib

    from db_migrator_spark.operators.dedup import (
        SIMHASH2_HAM_MAX,
        SIMHASH2_JACCARD_PPM,
        dedup_simhash_portable,
    )

    sf = "/root/testdata/sf0.001"
    got = {(r.d1, r.d2): r for r in dedup_simhash_portable(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()

    def fingerprint(text):
        from collections import Counter

        votes = [0] * 64
        for w, cnt in Counter(text.split(" ")).items():
            h = hashlib.md5(w.encode()).hexdigest()
            for j in range(64):
                bit = (int(h[j // 4], 16) >> (j % 4)) & 1
                votes[j] += cnt * (2 * bit - 1)
        return "".join("1" if v >= 0 else "0" for v in votes)

    fps = {d.doc_id: fingerprint(d.text) for d in docs}
    sh = {
        d.doc_id: {
            " ".join(d.text.split(" ")[i : i + 3])
            for i in range(len(d.text.split(" ")) - 2)
        }
        for d in docs
        if len(d.text.split(" ")) >= 3
    }
    for (d1, d2), r in got.items():
        ham = sum(a != b for a, b in zip(fps[d1], fps[d2]))
        assert r.hamming == ham <= SIMHASH2_HAM_MAX
        inter = len(sh[d1] & sh[d2])
        ppm = inter * 1_000_000 // (len(sh[d1]) + len(sh[d2]) - inter)
        assert r.jaccard_ppm == ppm >= SIMHASH2_JACCARD_PPM
    assert got, "fixture should yield simhash near-dup pairs"


def test_sql_udf_inlines_into_codegen(spark):
    from db_migrator_spark.operators.relational7 import q_sql_udf_tiering

    sf = "/root/testdata/sf0.001"
    df = q_sql_udf_tiering(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the SQL UDF body must inline: no Python runner, no plan-level UDF node
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = {r.tier: r for r in df.collect()}
    cust = load_table(spark, sf, "customer").select("c_acctbal").collect()
    from collections import Counter, defaultdict

    n = Counter()
    tot = defaultdict(int)
    for c in cust:
        b = math.floor(c.c_acctbal * 100)
        t = "high" if b >= 500_000 else "mid" if b >= 0 else "low"
        n[t] += 1
        tot[t] += b
    for t in n:
        assert (rows[t].n, rows[t].total_cents) == (n[t], tot[t])


def test_schema_evolution_union_accounts(spark):
    from db_migrator_spark.operators.relational7 import (
        q_schema_evolution_union,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.src_version: r for r in q_schema_evolution_union(spark, sf).collect()}
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    n1 = sum(1 for o in orders if o.o_orderkey % 2 == 0)
    n2 = len(orders) - n1
    assert (got["v1"].n, got["v2"].n) == (n1, n2)
    # each version's missing column null-fills: counted as absent
    assert got["v1"].n_status == n1 and got["v1"].n_priority == 0
    assert got["v2"].n_status == 0 and got["v2"].n_priority == n2


def test_minhash_estimator_audit_consistency(spark):
    from db_migrator_spark.operators.dedup import (
        PORTABLE_JACCARD_PPM,
        PORTABLE_MINHASH_K,
        dedup_minhash_estimator_audit,
        dedup_minhash_portable,
    )

    sf = "/root/testdata/sf0.001"
    audit = {(r.d1, r.d2): r for r in dedup_minhash_estimator_audit(spark, sf).collect()}
    assert audit
    for r in audit.values():
        assert 0 <= r.sig_matches <= PORTABLE_MINHASH_K
        assert r.estimate_ppm == r.sig_matches * 1_000_000 // PORTABLE_MINHASH_K
        assert r.error_ppm == r.estimate_ppm - r.exact_ppm
    # the portable dedup's accepted pairs are a subset of the audited
    # candidates, with identical exact scores
    pairs = {(r.d1, r.d2): r.jaccard_ppm for r in dedup_minhash_portable(spark, sf).collect()}
    for pair, ppm in pairs.items():
        assert pair in audit and audit[pair].exact_ppm == ppm >= PORTABLE_JACCARD_PPM


def test_expectation_dirty_nulls_counted_in_identity(spark):
    import hashlib

    from db_migrator_spark.operators.quality4 import (
        DIRTY_MASK_DIGIT,
        q_expectation_checks_dirty,
    )

    sf = "/root/testdata/sf0.001"
    row = q_expectation_checks_dirty(spark, sf).collect()[0]
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    ).collect()

    def masked(ok, ln, col):
        return (
            hashlib.md5(f"{ok}:{ln}:{col}".encode()).hexdigest()[-1]
            == DIRTY_MASK_DIGIT
        )

    idents = set()
    nulls = [0, 0, 0]
    for r in li:
        ks = []
        for i, (col, v) in enumerate(
            [
                ("l_orderkey", r.l_orderkey),
                ("l_partkey", r.l_partkey),
                ("l_suppkey", r.l_suppkey),
            ]
        ):
            if masked(r.l_orderkey, r.l_linenumber, col):
                nulls[i] += 1
                ks.append("N")
            else:
                ks.append(str(v))
        idents.add("|".join(ks))
    assert (row.n_null_k1, row.n_null_k2, row.n_null_k3) == tuple(nulls)
    assert all(n > 0 for n in nulls), "the mask genuinely dirties"
    assert row.n_identities == len(idents)
    assert row.n_duplicates == row.n_rows - len(idents)
    assert row.n_duplicates > 0, "NULL-bearing tuples must collide"


def test_cumulative_users_first_day_identity(spark):
    from db_migrator_spark.operators.events4 import events_cumulative_users

    sf = "/root/testdata/sf0.001"
    got = events_cumulative_users(spark, sf).collect()
    ev = load_table(spark, sf, "events").select(
        "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
    ).distinct().collect()
    from collections import defaultdict

    dau = defaultdict(set)
    first = {}
    for e in ev:
        dau[e.day].add(e.user_id)
        if e.user_id not in first or e.day < first[e.user_id]:
            first[e.user_id] = e.day
    firsts = defaultdict(int)
    for u, d in first.items():
        firsts[d] += 1
    cum = 0
    for r in sorted(got, key=lambda r: r.day):
        assert r.dau == len(dau[r.day])
        assert r.n_new_users == firsts.get(r.day, 0)
        cum += firsts.get(r.day, 0)
        assert r.cumulative_users == cum
        assert r.new_share_ppm == r.n_new_users * 1_000_000 // r.dau
    # the curve ends at the total distinct user count
    assert cum == len(first)


def test_target_encoding_loo_excludes_self(spark):
    from db_migrator_spark.operators.quality4 import q_target_encoding_loo

    sf = "/root/testdata/sf0.001"
    got = {r.o_orderkey: r for r in q_target_encoding_loo(spark, sf).collect()}
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).collect()
    from collections import defaultdict

    grp = defaultdict(list)
    for o in orders:
        grp[o.o_orderpriority].append(math.floor(o.o_totalprice * 1_000_000))
    sums = {p: (len(v), sum(v)) for p, v in grp.items()}
    for o in orders:
        r = got[o.o_orderkey]
        n, s = sums[o.o_orderpriority]
        assert r.freq_encoding == n
        x = math.floor(o.o_totalprice * 1_000_000)
        if n <= 1:
            assert r.loo_mean_micro is None
        else:
            assert r.loo_mean_micro == (s - x) // (n - 1)


def test_growth_accounting_books_balance(spark):
    from db_migrator_spark.operators.events4 import q_growth_accounting

    sf = "/root/testdata/sf0.001"
    got = {r.bucket: r for r in q_growth_accounting(spark, sf).collect()}
    rev_pre = sum(r.rev_pre_cents for r in got.values())
    rev_post = sum(r.rev_post_cents for r in got.values())

    def d(b):
        return got[b].delta_cents if b in got else 0

    # the growth ledger identity
    assert rev_post - rev_pre == (
        d("new") + d("expansion") - d("contraction") - d("churned")
    )
    # every bucket's delta is consistent with its own pre/post mass
    for b, r in got.items():
        if b == "new":
            assert r.rev_pre_cents == 0
        if b == "churned":
            assert r.rev_post_cents == 0


def test_did_cells_match_python(spark):
    import hashlib
    import datetime

    from db_migrator_spark.operators.events4 import (
        DID_PIVOT,
        events_did_analysis,
    )

    sf = "/root/testdata/sf0.001"
    row = events_did_analysis(spark, sf).collect()[0]
    ev = load_table(spark, sf, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).collect()
    pivot = datetime.datetime.fromisoformat(DID_PIVOT)
    from collections import defaultdict

    cells = defaultdict(lambda: [0, 0])
    for e in ev:
        arm = (
            "a"
            if hashlib.md5(f"ab-v1{e.user_id}".encode()).hexdigest()[:2] < "80"
            else "b"
        )
        per = "post" if e.ts >= pivot else "pre"
        c = cells[(arm, per)]
        c[0] += 1
        c[1] += math.floor(e.value * 1_000_000)

    def tdiv(s, n):
        return s // n if s >= 0 else -((-s) // n)

    means = {}
    for (arm, per), (n, s) in cells.items():
        assert getattr(row, f"n_{arm}_{per}") == n
        means[(arm, per)] = tdiv(s, n)
        assert getattr(row, f"mean_micro_{arm}_{per}") == means[(arm, per)]
    assert row.did_micro == (
        means[("a", "post")] - means[("a", "pre")]
    ) - (means[("b", "post")] - means[("b", "pre")])


def test_fd_audit_true_and_false_dependencies(spark):
    from db_migrator_spark.operators.quality4 import q_fd_violation_audit

    sf = "/root/testdata/sf0.001"
    got = {r.dependency: r for r in q_fd_violation_audit(spark, sf).collect()}
    # key-based FDs hold; the deliberately-false ones must not
    assert got["o_orderkey->o_custkey"].holds
    assert got["c_custkey->c_nationkey"].holds
    assert not got["o_custkey->o_orderpriority"].holds
    assert not got["l_orderkey->l_returnflag"].holds
    for r in got.values():
        assert r.holds == (r.n_violating == 0)
        assert r.max_fanout >= 1


def test_streak_analysis_matches_python(spark):
    from db_migrator_spark.operators.events4 import events_streak_analysis

    sf = "/root/testdata/sf0.001"
    got = {r.user_id: r for r in events_streak_analysis(spark, sf).collect()}
    ev = load_table(spark, sf, "events").select(
        "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
    ).distinct().collect()
    from collections import defaultdict

    by_user = defaultdict(set)
    for e in ev:
        by_user[e.user_id].add(e.day)
    for u, days in by_user.items():
        ds = sorted(days)
        streaks = []
        run = 1
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                run += 1
            else:
                streaks.append(run)
                run = 1
        streaks.append(run)
        r = got[u]
        assert r.n_active_days == len(ds)
        assert r.n_streaks == len(streaks)
        assert r.longest_streak == max(streaks)


def test_budget_greedy_selection_is_greedy_prefix(spark):
    from db_migrator_spark.operators.quality4 import (
        SELECT_BUDGET_CENTS,
        q_budget_greedy_selection,
    )

    sf = "/root/testdata/sf0.001"
    got = q_budget_greedy_selection(spark, sf).collect()
    assert got
    # running cost monotone, within budget, density non-increasing
    prev_cum, prev_d = 0, None
    for r in got:
        assert r.cum_cost_cents == prev_cum + r.cost_cents
        assert r.cum_cost_cents <= SELECT_BUDGET_CENTS
        if prev_d is not None:
            assert r.density_ppm <= prev_d
        prev_cum, prev_d = r.cum_cost_cents, r.density_ppm
        assert r.density_ppm == r.rev_cents * 1_000_000 // r.cost_cents


def test_rfm_migration_matrix_row_shares(spark):
    from db_migrator_spark.operators.events4 import q_rfm_migration_matrix

    sf = "/root/testdata/sf0.001"
    got = q_rfm_migration_matrix(spark, sf).collect()
    assert got
    from collections import defaultdict

    rows = defaultdict(list)
    for r in got:
        assert 1 <= r.q_pre <= 5 and 1 <= r.q_post <= 5
        rows[r.q_pre].append(r)
    for q, rs in rows.items():
        n_row = sum(r.n for r in rs)
        for r in rs:
            assert r.row_share_ppm == r.n * 1_000_000 // n_row


def test_image_moments_match_python(spark):
    import re

    from db_migrator_spark.operators.multimodal import (
        PPM_H,
        PPM_W,
        _PPM_PIXELS,
        multimodal_image_moments,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: r for r in multimodal_image_moments(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    for d in docs:
        txt = re.sub(r"[^\x20-\x7E]", "", d.text)
        if not txt:
            continue
        raw = (txt * (_PPM_PIXELS // len(txt) + 1))[:_PPM_PIXELS].encode("ascii")
        m00 = m10 = m01 = 0
        for rr in range(PPM_H):
            for cc in range(PPM_W):
                g = sum(raw[(rr * PPM_W + cc) * 3 + ch] for ch in range(3))
                m00 += g
                m10 += rr * g
                m01 += cc * g
        r = got[d.doc_id]
        assert (r.m00, r.m10, r.m01) == (m00, m10, m01)
        assert r.centroid_r_milli == (m10 * 1000 // m00 if m00 else 0)
        assert r.centroid_c_milli == (m01 * 1000 // m00 if m00 else 0)


def test_burstiness_identities(spark):
    from db_migrator_spark.operators.corpus8 import (
        BURST_MIN_TF,
        text_burstiness,
    )

    sf = "/root/testdata/sf0.001"
    got = text_burstiness(spark, sf).collect()
    assert got
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    from collections import Counter, defaultdict

    tf = Counter()
    df = Counter()
    for d in docs:
        ws = [w for w in d.text.split(" ") if w]
        tf.update(ws)
        df.update(set(ws))
    for r in got:
        assert r.tf == tf[r.w] >= BURST_MIN_TF
        assert r.df == df[r.w]
        assert r.repeat_share_ppm == (r.tf - r.df) * 1_000_000 // r.tf
        assert r.mean_per_doc_milli == r.tf * 1000 // r.df
    assert {r.w for r in got} == {w for w, n in tf.items() if n >= BURST_MIN_TF}


def test_benford_conformity_matches_python(spark):
    from db_migrator_spark.operators.quality4 import (
        BENFORD_PPM,
        q_benford_conformity,
    )

    sf = "/root/testdata/sf0.001"
    row = q_benford_conformity(spark, sf).collect()[0]
    orders = load_table(spark, sf, "orders").select("o_totalprice").collect()
    from collections import Counter

    counts = Counter(
        int(str(math.floor(o.o_totalprice * 1_000_000))[0]) for o in orders
    )
    t = sum(counts.values())
    devs = [
        abs(n * 1_000_000 // t - BENFORD_PPM[d]) for d, n in counts.items()
    ]
    assert row.n_digits == len(counts)
    assert row.mad_ppm == sum(devs) // len(devs)
    assert row.verdict in ("close", "acceptable", "marginal", "nonconforming")
    # benford literals sum to ~1e6 (sanity of the pinned constants)
    assert abs(sum(BENFORD_PPM.values()) - 1_000_000) <= 2
