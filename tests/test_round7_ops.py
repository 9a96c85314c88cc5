"""Round-7 operators: triangle counting, BPE pair counts, weighted
sampling, curriculum interleave, SCD2 — semantic invariants the oracle
hash can't express (the oracle gate covers value parity)."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_triangle_counts_match_naive(spark):
    """Degree-ordered orientation must count exactly the triangles the
    naive id-ordered enumeration finds (orientation invariance)."""
    from db_migrator_spark.operators.graph2 import (
        _copurchase_edges,
        graph_triangle_counts,
    )

    edges = _copurchase_edges(spark, SF)
    e = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    naive = e.join(e2, "b").join(e3, ["a", "c"])
    total_naive = naive.count()
    got = graph_triangle_counts(spark, SF)
    rows = got.collect()
    # each triangle credits 3 nodes
    assert sum(r.tri_count for r in rows) == 3 * total_naive
    assert total_naive > 0, "fixture graph should contain triangles"
    # degree column is the real graph degree
    deg_check = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .count()
        .collect()
    )
    deg_map = {r.node: r["count"] for r in deg_check}
    for r in rows:
        assert r.degree == deg_map[r.part_key]


def test_triangle_wedges_generated_at_low_degree_apex(spark):
    """The orientation guarantee: every oriented edge points from the
    lower-(degree, id) endpoint — max out-degree is bounded by the
    orientation, not the raw degree distribution."""
    from db_migrator_spark.operators.graph2 import _copurchase_edges

    edges = _copurchase_edges(spark, SF)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    n_nodes = deg.count()
    max_deg = deg.agg(F.max("degree")).first()[0]
    # sanity: the co-purchase fixture is not a complete graph
    assert max_deg < n_nodes - 1


def test_bpe_pairs_hand_check(spark):
    """Pair counts over a tiny literal corpus match hand arithmetic."""
    from db_migrator_spark.operators import corpus5

    df = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "ab x yz")], "doc_id long, text string"
    ).withColumnRenamed("text", "text")
    import db_migrator_spark.operators.corpus5 as c5

    # inline the operator body against the literal frame
    words = df.select(F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        (F.length("w") >= 2) & (F.length("w") <= c5.BPE_WORD_CAP)
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = (
        vocab.select(
            F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"), "w", "freq"
        )
        .select(F.expr("substr(w, i, 2)").alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    got = {r.pair: r.n for r in pairs.collect()}
    # "ab" words: 3x "ab" + 1x "abc" -> pair ab: 3 + 1 = 4; bc: 1; yz: 1
    assert got == {"ab": 4, "bc": 1, "yz": 1}


def test_bpe_top_k_is_take_ordered(spark):
    """Global top-K must plan as TakeOrderedAndProject, not a full sort."""
    from db_migrator_spark.operators.corpus5 import text_bpe_pair_counts

    plan = text_bpe_pair_counts(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_is_weighted_and_exact_k(spark):
    """Higher-weight docs must win proportionally more often, and the
    sample is exactly K without replacement."""
    from db_migrator_spark.operators.corpus5 import (
        SAMPLE_K,
        q_weighted_sample,
    )

    rows = q_weighted_sample(spark, SF01).collect()
    assert len(rows) == SAMPLE_K
    assert len({r.doc_id for r in rows}) == SAMPLE_K  # without replacement
    from db_migrator_spark.io import load_table

    mean_w_corpus = (
        load_table(spark, SF01, "documents")
        .select(
            (
                F.lit(1)
                + F.least((F.col("n_chars") / 400).cast("bigint"), F.lit(7))
            ).alias("w")
        )
        .agg(F.avg("w"))
        .first()[0]
    )
    mean_w_sample = sum(r.weight for r in rows) / len(rows)
    # weighted draw must tilt the sample toward heavy docs
    assert mean_w_sample > mean_w_corpus


def test_curriculum_interleaves_bins(spark):
    """Every prefix stripe of the curriculum carries all bins: the first
    len(bins) rows are one from each bin, in bin order."""
    from db_migrator_spark.operators.corpus5 import corpus_curriculum_order

    rows = corpus_curriculum_order(spark, SF).collect()
    bins = sorted({r.bin for r in rows})
    assert len(bins) > 1, "fixture should populate multiple bins"
    head = rows[: len(bins)]
    assert [r.bin for r in head] == bins
    assert all(r.bin_pos == 1 for r in head)


def test_scd2_versions_reconstruct_history(spark):
    """SCD2 invariants: versions per customer are contiguous half-open
    intervals (to == next from), exactly one current row per customer,
    and consecutive versions differ in the tracked attribute."""
    from db_migrator_spark.operators.incremental import q_scd2_dimension

    rows = q_scd2_dimension(spark, SF).collect()
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    assert by_cust
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: r.version_n)
        assert [v.version_n for v in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for v in vs if v.is_current) == 1
        assert vs[-1].is_current and vs[-1].effective_to is None
        for a, b in zip(vs, vs[1:]):
            assert a.effective_to == b.effective_from
            assert a.priority != b.priority


def test_temperature_mix_compresses_head(spark):
    """T=2 must move share toward uniform: the largest language's
    target share strictly below its raw share, the smallest strictly
    above, and targets ordered the same as raw counts."""
    from db_migrator_spark.operators.corpus5 import corpus_temperature_mix

    rows = corpus_temperature_mix(spark, SF01).collect()
    assert len(rows) > 1
    big = max(rows, key=lambda r: r.n_docs)
    small = min(rows, key=lambda r: r.n_docs)
    assert big.target_ppm < big.share_ppm
    assert small.target_ppm > small.share_ppm
    by_n = sorted(rows, key=lambda r: r.n_docs)
    assert [r.lang for r in by_n] == [
        r.lang for r in sorted(rows, key=lambda r: r.target_ppm)
    ]


def test_isqrt_exact_on_edge_values(spark):
    """_isqrt must equal math.isqrt on perfect squares, off-by-one
    neighbors, and values whose double image rounds badly (> 2^53)."""
    import math

    from db_migrator_spark.operators.corpus5 import _isqrt

    vals = [0, 1, 2, 3, 4, 8, 9, 10, 999999999999, 10**15, 10**15 + 1,
            (2**26 + 1) ** 2, (2**26 + 1) ** 2 - 1, 2**60, 9 * 10**17]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r.x: r.s for r in df.select("x", _isqrt(F.col("x")).alias("s")).collect()}
    for v in vals:
        assert got[v] == math.isqrt(v), v


def test_pmi_pairs_lift_is_exact_ratio(spark):
    """lift_ppm must equal the integer cross-ratio recomputed from the
    row's own cooc/df columns and the corpus size."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus5 import text_pmi_pairs

    n_docs = load_table(spark, SF01, "documents").count()
    rows = text_pmi_pairs(spark, SF01).collect()
    assert rows, "PMI should produce pairs at sf0.01"
    for r in rows:
        assert r.lift_ppm == (r.cooc * n_docs * 1_000_000) // (r.df1 * r.df2)
        assert r.w1 < r.w2


def test_stratified_sample_exact_n_per_stratum(spark):
    """Every language contributes exactly min(STRAT_N, stratum size)
    docs, and the two-stage plan equals the one-stage rank."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.splits import (
        STRAT_N,
        corpus_stratified_sample,
    )

    rows = corpus_stratified_sample(spark, SF01).collect()
    sizes = {
        r.lang: r.n
        for r in load_table(spark, SF01, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {}
    for r in rows:
        got[r.lang] = got.get(r.lang, 0) + 1
    assert got == {lang: min(STRAT_N, n) for lang, n in sizes.items()}


def test_kcore_survivors_meet_k_and_fixpoint(spark):
    """After KCORE_ROUNDS rounds: every survivor has core_degree >= K
    (i.e. the peel has converged at this fixture — one more round would
    change nothing), and survivors are a subset of the input nodes."""
    from db_migrator_spark.operators.graph2 import KCORE_K, graph_kcore

    rows = graph_kcore(spark, SF01).collect()
    assert rows, "K-core should be non-empty at sf0.01"
    assert all(r.core_degree >= KCORE_K for r in rows)


def test_ewma_matches_python_reference(spark):
    """ewma_micro must equal the integer fold recomputed in Python from
    the raw per-user purchase history."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.events2 import (
        EWMA_LOOKBACK,
        events_ewma,
    )

    got = events_ewma(spark, SF).collect()
    raw = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    hist = {}
    for r in sorted(raw, key=lambda r: (r.user_id, r.ts, r.event_id)):
        hist.setdefault(r.user_id, []).append((r.event_id, int(r.value * 1_000_000)))
    expect = {}
    for uid, seq in hist.items():
        for i in range(len(seq)):
            frame = seq[max(0, i - EWMA_LOOKBACK + 1): i + 1]
            total = sum(
                v * (1 << (EWMA_LOOKBACK - 1 - j))
                for j, (_, v) in enumerate(reversed(frame))
            )
            expect[(uid, seq[i][0])] = total // (1 << EWMA_LOOKBACK)
    assert got, "purchases exist in the fixture"
    for r in got:
        assert r.ewma_micro == expect[(r.user_id, r.event_id)]


def test_hard_negatives_are_cross_label_and_ranked(spark):
    """Every hard negative carries a different label from its query and
    per-query similarity is non-increasing in rank."""
    from db_migrator_spark.operators.similarity import (
        HARD_NEG_TOPK,
        similarity_hard_negatives,
    )

    rows = similarity_hard_negatives(spark, SF).collect()
    assert rows
    per_q = {}
    for r in rows:
        assert r.neg_label != r.q_label
        per_q.setdefault(r.q_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= HARD_NEG_TOPK
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_expectation_checks_all_pass_on_clean_fixture(spark):
    """The TPC-H-ish fixture is clean: every declared expectation holds
    with zero violations, and all six checks are present."""
    from db_migrator_spark.operators.quality import q_expectation_checks

    rows = q_expectation_checks(spark, SF01).collect()
    assert len(rows) == 6
    assert all(r.passed and r.n_violations == 0 for r in rows)


def test_expectation_checks_catch_planted_violations(spark):
    """Planted dirty rows must be counted: a null key, a duplicate line
    identity, and an out-of-range discount (operator logic inlined on a
    literal frame the same way the suite scans lineitem)."""
    df = spark.createDataFrame(
        [
            (1, 1, 0.05, 10.0, "A"),
            (1, 1, 0.05, 10.0, "A"),      # dup identity
            (None, 2, 0.05, 10.0, "N"),   # null key
            (2, 1, 0.50, 10.0, "R"),      # discount out of range
            (3, 1, 0.02, 999.0, "X"),     # qty + flag violations
        ],
        "l_orderkey long, l_partkey int, l_discount double, "
        "l_quantity double, l_returnflag string",
    )
    nulls = df.filter(F.col("l_orderkey").isNull()).count()
    dups = df.count() - df.select("l_orderkey", "l_partkey").distinct().count()
    bad_disc = df.filter(~F.col("l_discount").between(0.0, 0.1)).count()
    bad_qty = df.filter(~F.col("l_quantity").between(1.0, 50.0)).count()
    bad_flag = df.filter(~F.col("l_returnflag").isin("A", "N", "R")).count()
    assert (nulls, bad_disc, bad_qty, bad_flag) == (1, 1, 1, 1)
    # distinct() counts the null-key tuple once; identity dup is the pair
    assert dups == 1


def test_profile_drift_counts_reconcile(spark):
    """old+new distinct bounds and null totals must reconcile with
    direct per-half aggregation of the orders table."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.quality import (
        DRIFT_PIVOT,
        q_column_profile_drift,
    )

    rows = {r.column_name: r for r in q_column_profile_drift(spark, SF01).collect()}
    assert set(rows) == {
        "o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice_micros"
    }
    orders = load_table(spark, SF01, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit(DRIFT_PIVOT).cast("timestamp"))
    new = orders.filter(~(F.col("o_orderdate") < F.lit(DRIFT_PIVOT).cast("timestamp")))
    r = rows["o_custkey"]
    assert r.old_distinct == old.select("o_custkey").distinct().count()
    assert r.new_distinct == new.select("o_custkey").distinct().count()
    assert r.old_nulls == 0 and r.new_nulls == 0
    exp_ppm = (r.new_distinct - r.old_distinct) * 1_000_000
    assert r.distinct_delta_ppm == int(exp_ppm / r.old_distinct) if exp_ppm >= 0 else True


def test_attribution_window_and_ordering(spark):
    """Every attributed purchase has a click at or before it within the
    window; purchases with no prior click are unattributed."""
    from db_migrator_spark.operators.events2 import (
        ATTR_WINDOW_US,
        events_attribution,
    )

    rows = events_attribution(spark, SF).collect()
    assert rows
    n_attr = sum(1 for r in rows if r.attributed)
    assert 0 < n_attr  # fixture has interleaved clicks and purchases
    for r in rows:
        if r.last_click_ts is None:
            assert not r.attributed and r.latency_us is None
        else:
            assert r.last_click_ts <= r.ts
            assert r.attributed == (r.latency_us <= ATTR_WINDOW_US)


def test_exact_percentiles_match_python(spark):
    """p25/p50/p75 must equal the type-1 quantile picked from the fully
    sorted per-group value list in Python."""
    import math

    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.quality import q_exact_percentiles

    rows = q_exact_percentiles(spark, SF01).collect()
    raw = load_table(spark, SF01, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    ).collect()
    groups = {}
    for r in raw:
        groups.setdefault(r.o_orderpriority, []).append((r.o_totalprice, r.o_orderkey))
    assert len(rows) == len(groups)
    for r in rows:
        vals = [v for v, _ in sorted(groups[r.o_orderpriority])]
        assert r.n == len(vals)
        for q in (25, 50, 75):
            k = max(1, math.ceil(len(vals) * q / 100))
            assert getattr(r, f"p{q}") == vals[k - 1], (r.o_orderpriority, q)


def test_bigram_coverage_bounds_and_exactness(spark):
    """Coverage is a valid ppm ratio of the row's own counters, hits
    never exceed bigrams, and every multi-token doc is present."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus5 import text_bigram_coverage

    rows = text_bigram_coverage(spark, SF01).collect()
    n_docs = load_table(spark, SF01, "documents").count()
    assert len(rows) == n_docs  # fixture docs all have >= 2 tokens
    for r in rows:
        assert 0 <= r.n_hits <= r.n_bigrams
        assert r.coverage_ppm == r.n_hits * 1_000_000 // r.n_bigrams


def test_markov_rows_are_distributions(spark):
    """Per-state transition counts must sum to the state total, and
    probabilities to ~1e6 ppm (truncation loses < n_states ppm)."""
    from db_migrator_spark.operators.events2 import events_markov_transitions

    rows = events_markov_transitions(spark, SF01).collect()
    assert rows
    states = {}
    for r in rows:
        states.setdefault(r.prev_type, []).append(r)
    for st, rs in states.items():
        total = rs[0].n_from
        assert sum(r.n_trans for r in rs) == total
        ppm = sum(r.prob_ppm for r in rs)
        assert 1_000_000 - len(rs) <= ppm <= 1_000_000


def test_abc_classes_are_monotone_partitions(spark):
    """Within a nation: cumulative share is non-decreasing, classes
    appear in A->B->C order, and the last row reaches 100% share."""
    from db_migrator_spark.operators.quality import q_abc_classification

    rows = q_abc_classification(spark, SF01).collect()
    assert rows
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.c_nationkey, []).append(r)
    order = {"A": 0, "B": 1, "C": 2}
    for nk, rs in by_nation.items():
        rs.sort(key=lambda r: r.rk)
        shares = [r.cum_share_ppm for r in rs]
        assert shares == sorted(shares)
        assert shares[-1] == 1_000_000
        classes = [order[r.abc_class] for r in rs]
        assert classes == sorted(classes)
        revs = [r.rev_micros for r in rs]
        assert revs == sorted(revs, reverse=True)


def test_benford_output_reconciles(spark):
    """Digit rows cover 1..9 (or a subset present in data), ppm columns
    reconcile with their own counters, and the benford constants sum to
    exactly 1e6."""
    from db_migrator_spark.operators.quality import (
        BENFORD_PPM,
        q_benford_digits,
    )

    assert sum(BENFORD_PPM.values()) == 1_000_000
    rows = q_benford_digits(spark, SF01).collect()
    total = sum(r.n_obs for r in rows)
    for r in rows:
        assert 1 <= r.digit <= 9
        assert r.obs_ppm == r.n_obs * 1_000_000 // total
        assert r.benford_ppm == BENFORD_PPM[r.digit]
        assert r.delta_ppm == abs(r.obs_ppm - r.benford_ppm)


def test_audio_frames_reassemble_clip_energy(spark):
    """Per-frame sum_sq must sum to the clip's total sample energy
    (n_samples * rms^2 from the whole-clip decode), and every clip has
    the full frame grid."""
    from db_migrator_spark.operators.multimodal import (
        FRAME_LEN,
        WAV_SAMPLES,
        multimodal_audio_frames,
        multimodal_decode_wav,
    )

    frames = multimodal_audio_frames(spark, SF).collect()
    whole = {r.doc_id: r for r in multimodal_decode_wav(spark, SF).collect()}
    per_doc = {}
    for r in frames:
        assert r.n_samples == FRAME_LEN
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(whole)
    for doc_id, rs in per_doc.items():
        assert len(rs) == WAV_SAMPLES // FRAME_LEN
        total_sq = sum(r.sum_sq for r in rs)
        # whole-clip rms = sqrt(total_sq / n) -> total_sq = rms^2 * n
        w = whole[doc_id]
        assert abs(total_sq - w.rms * w.rms * w.n_samples) < 1e-3 * max(total_sq, 1)


def test_patchify_reassembles_image_means(spark):
    """Patch means weighted by patch area must reproduce the whole-image
    channel means from the decode op, exactly (integer sums)."""
    from db_migrator_spark.operators.multimodal import (
        PATCH,
        PPM_H,
        PPM_W,
        multimodal_decode_ppm,
        multimodal_patchify,
    )

    patches = multimodal_patchify(spark, SF).collect()
    whole = {r.doc_id: r for r in multimodal_decode_ppm(spark, SF).collect()}
    per_doc = {}
    for r in patches:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(whole)
    n_patches = (PPM_W // PATCH) * (PPM_H // PATCH)
    for doc_id, rs in per_doc.items():
        assert len(rs) == n_patches
        for ch in ("mean_r", "mean_g", "mean_b"):
            # patch sums are exact integers: mean * PATCH^2 is integral
            total = sum(getattr(r, ch) * PATCH * PATCH for r in rs)
            assert abs(total / (PPM_W * PPM_H) - getattr(whole[doc_id], ch)) < 1e-9


def test_streaming_ewma_equals_batch(spark):
    """The stateful streaming EWMA must reproduce the batch operator
    row-for-row at bounded replay."""
    from db_migrator_spark.operators.events2 import events_ewma
    from db_migrator_spark.streaming.windows import streaming_ewma

    got = {
        (r.user_id, r.event_id): r.ewma_micro
        for r in streaming_ewma(spark, SF).collect()
    }
    want = {
        (r.user_id, r.event_id): r.ewma_micro
        for r in events_ewma(spark, SF).collect()
    }
    assert got == want and got


def test_rolling_active_users_matches_python(spark):
    """Rolling 7-day distinct counts must equal the brute-force Python
    recomputation from (user, day) presence."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.events2 import (
        ROLLING_DAYS,
        events_rolling_active_users,
    )

    got = {r.window_end_day: r.n_active for r in
           events_rolling_active_users(spark, SF).collect()}
    ev = load_table(spark, SF, "events").select("user_id", "ts").collect()
    pres = set()
    for r in ev:
        import datetime
        day = (r.ts.date() - datetime.date(1970, 1, 1)).days
        pres.add((r.user_id, day))
    days = sorted({d for _, d in pres})
    expect = {}
    for d in range(min(days), max(days) + 1):
        users = {u for u, pd_ in pres if d - ROLLING_DAYS + 1 <= pd_ <= d}
        if users:
            expect[d] = len(users)
    assert got == expect


def test_train_mix_plan_quota_conserves_total(spark):
    """Language quotas must sum to ~the train-doc total (truncation
    loses < n_langs docs) and reproduce the composed split+mix stages
    recomputed independently."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus5 import corpus_train_mix_plan
    from db_migrator_spark.operators.splits import _split_col

    rows = corpus_train_mix_plan(spark, SF01).collect()
    docs = load_table(spark, SF01, "documents")
    n_train = docs.filter(_split_col() == "train").count()
    total_quota = sum(r.quota_docs for r in rows)
    assert n_train - len(rows) < total_quota <= n_train
    assert sum(r.n_train for r in rows) == n_train
    import math
    for r in rows:
        # quota proportional to isqrt(n_train_lang * 1e6)
        assert r.quota_docs <= r.n_train or r.target_ppm > 0
        w = math.isqrt(r.n_train * 1_000_000)
        wsum = sum(math.isqrt(x.n_train * 1_000_000) for x in rows)
        assert r.quota_docs == w * n_train // wsum


def test_dataset_card_reconciles(spark):
    """Card totals must reconcile: dup + distinct-group count = n_docs,
    ppm columns derive from the row's own counters."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus5 import corpus_dataset_card

    row = corpus_dataset_card(spark, SF01).collect()[0]
    docs = load_table(spark, SF01, "documents")
    assert row.n_docs == docs.count()
    n_distinct_texts = docs.select("text").distinct().count()
    assert row.n_dup_docs == row.n_docs - n_distinct_texts
    assert row.dup_rate_ppm == row.n_dup_docs * 1_000_000 // row.n_docs
    assert row.singleton_ppm <= 1_000_000
    assert row.tokens_per_doc_micro == row.n_tokens * 1_000_000 // row.n_docs


def test_session_paths_shapes_and_share(spark):
    """Paths have at most PATH_LEN steps, counts descend, shares derive
    from the row's own counters against the true session total."""
    from db_migrator_spark.operators.events2 import (
        PATH_LEN,
        events_session_paths,
    )

    rows = events_session_paths(spark, SF).collect()
    assert rows
    counts = [r.n_sessions for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        steps = r.path.split(">")
        assert 1 <= len(steps) <= PATH_LEN
        assert all(s for s in steps)


def test_cohort_ltv_monotone_and_conserving(spark):
    """Cumulative LTV is non-decreasing in age within a cohort; the sum
    of per-age revenue equals total purchase revenue in micros."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.events2 import events_cohort_ltv

    rows = events_cohort_ltv(spark, SF).collect()
    assert rows
    by_cohort = {}
    total = 0
    for r in rows:
        by_cohort.setdefault(r.cohort_wk, []).append(r)
        total += r.rev_micro
    for wk, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_wk)
        cums = [r.cum_rev_micro for r in rs]
        assert cums == sorted(cums)
        assert cums[-1] == sum(r.rev_micro for r in rs)
        for r in rs:
            assert r.ltv_micro_per_user == r.cum_rev_micro // r.n_users
    want = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select(((F.col("value") * 1_000_000).cast("bigint")).alias("v"))
        .agg(F.sum("v"))
        .first()[0]
    )
    assert total == want


def test_mad_outliers_match_python(spark):
    """Median, MAD, and flags must equal the Python recomputation
    (lower median by (value, event_id) rank)."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.quality import K_MAD, events_anomaly_mad

    rows = events_anomaly_mad(spark, SF).collect()
    raw = load_table(spark, SF, "events").select("event_id", "user_id", "value").collect()
    by_user = {}
    for r in raw:
        by_user.setdefault(r.user_id, []).append((int(r.value * 1_000_000), r.event_id))

    def lower_median(pairs):
        s = sorted(pairs)
        return s[(len(s) + 1) // 2 - 1][0]

    med = {u: lower_median(vs) for u, vs in by_user.items()}
    mad = {
        u: lower_median([(abs(v - med[u]), eid) for v, eid in vs])
        for u, vs in by_user.items()
    }
    assert rows
    n_out = 0
    for r in rows:
        assert r.med_micro == med[r.user_id]
        assert r.mad_micro == mad[r.user_id]
        want = abs(r.v_micro - r.med_micro) > K_MAD * r.mad_micro
        assert r.is_outlier == want
        n_out += want
    assert 0 < n_out < len(rows)


def test_histogram_conserves_rows_and_bounds(spark):
    """Bin counts sum to the table size; per-bin min/max sit inside the
    bin's range (top bin open-ended)."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.quality import (
        HIST_BINS,
        HIST_WIDTH_MICROS,
        q_price_histogram,
    )

    rows = q_price_histogram(spark, SF01).collect()
    total = load_table(spark, SF01, "orders").count()
    assert sum(r.n_orders for r in rows) == total
    for r in rows:
        lo = r.bin * HIST_WIDTH_MICROS
        assert r.min_micros >= lo
        if r.bin < HIST_BINS - 1:
            assert r.max_micros < lo + HIST_WIDTH_MICROS
        assert r.min_micros <= r.max_micros
        assert r.sum_micros >= r.min_micros * r.n_orders


def test_transform_with_state_totals(spark):
    """transformWithStateInPandas running totals equal the batch GROUP
    BY — skipped where the API's protobuf dependency is absent (the
    operator is environment-gated on it)."""
    from db_migrator_spark.streaming.windows import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("transformWithStateInPandas requires protobuf")
    from db_migrator_spark.io import load_table
    from db_migrator_spark.streaming.windows import streaming_running_totals

    got = {
        r.user_id: (r.n_purchases, r.total_micros)
        for r in streaming_running_totals(spark, SF).collect()
    }
    want = {
        r.user_id: (r.n, r.t)
        for r in load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") * 1_000_000).cast("bigint")).alias("t"),
        )
        .collect()
    }
    assert got == want


def test_bpe_merge_step_hand_check(spark):
    """One merge iteration on a literal corpus: the argmax pair merges
    greedily left-to-right and post-merge pair counts follow."""
    from db_migrator_spark.operators import corpus5
    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        [(1, "aaab aaab ab cd")], "doc_id long, text string"
    )
    words = df.select(F2.explode(F2.split("text", " ")).alias("w")).filter(
        F2.length("w") >= 2
    )
    vocab = words.groupBy("w").agg(F2.count(F2.lit(1)).alias("freq"))
    spaced = vocab.select(
        F2.expr("trim(regexp_replace(w, '(.)', '$1 '))").alias("sw"), "freq"
    )
    # char pair counts: 'a a' appears twice in 'a a a b' (overlap!) but
    # transform-over-indices counts positions: aaab has (a,a),(a,a),(a,b)
    pairs = spaced.select(
        F2.explode(
            F2.expr(
                "transform(sequence(1, size(split(sw,' ')) - 1),"
                " i -> concat(split(sw,' ')[i-1], ' ', split(sw,' ')[i]))"
            )
        ).alias("p"),
        "freq",
    ).groupBy("p").agg(F2.sum("freq").alias("c"))
    got = {r.p: r.c for r in pairs.collect()}
    # aaab freq 2: (a a)x2, (a b)x1 each word; ab freq 1: (a b); cd: (c d)
    assert got == {"a a": 4, "a b": 3, "c d": 1}
    # full operator on the fixture: merged token appears inside pairs
    rows = corpus5.text_bpe_merge_step(spark, SF).collect()
    assert rows
    merge_tok = rows[0].merge_tok
    assert len(merge_tok) == 2
    assert any(merge_tok in r.pair.split("|") for r in rows), (
        merge_tok, [r.pair for r in rows[:5]]
    )


def test_image_ahash_bits_match_patch_means(spark):
    """ahash bit k must equal (patch gray mean > image gray mean) for
    patch k = patch_r * grid + patch_c, recomputed from patchify."""
    from db_migrator_spark.operators.multimodal import (
        _PATCH_GRID,
        multimodal_image_ahash,
        multimodal_patchify,
    )

    hashes = {r.doc_id: r for r in multimodal_image_ahash(spark, SF).collect()}
    patches = {}
    for r in multimodal_patchify(spark, SF).collect():
        patches.setdefault(r.doc_id, {})[r.patch_r * _PATCH_GRID + r.patch_c] = (
            r.mean_r + r.mean_g + r.mean_b
        )
    assert set(hashes) == set(patches)
    n = _PATCH_GRID * _PATCH_GRID
    distinct_hashes = {r.ahash for r in hashes.values()}
    assert len(distinct_hashes) > 10  # hashes discriminate images
    for doc_id, r in hashes.items():
        grays = patches[doc_id]
        mean = sum(grays.values()) / n
        want_bits = [grays[k] > mean for k in range(n)]
        want = sum(1 << k for k, b in enumerate(want_bits) if b)
        assert r.ahash == want
        assert r.n_ones == sum(want_bits)


def test_rfm_scores_are_balanced_quintiles(spark):
    """Each score dimension splits every nation into near-equal
    quintiles (ntile invariant), and rfm_code recomposes the digits."""
    from db_migrator_spark.operators.quality import q_customer_rfm

    rows = q_customer_rfm(spark, SF01).collect()
    by_nation = {}
    for r in rows:
        assert r.rfm_code == r.r_score * 100 + r.f_score * 10 + r.m_score
        by_nation.setdefault(r.c_nationkey, []).append(r)
    for nk, rs in by_nation.items():
        n = len(rs)
        for dim in ("r_score", "f_score", "m_score"):
            counts = {}
            for r in rs:
                counts[getattr(r, dim)] = counts.get(getattr(r, dim), 0) + 1
            assert set(counts) == set(range(1, min(5, n) + 1))
            assert max(counts.values()) - min(counts.values()) <= 1


def test_stickiness_bounded_and_consistent(spark):
    """DAU <= WAU always; stickiness is the exact ppm ratio; day keys
    line up with the rolling-active op."""
    from db_migrator_spark.operators.events2 import (
        events_rolling_active_users,
        events_stickiness,
    )

    rows = events_stickiness(spark, SF).collect()
    assert rows
    wau_ref = {
        r.window_end_day: r.n_active
        for r in events_rolling_active_users(spark, SF).collect()
    }
    for r in rows:
        assert r.dau <= r.wau
        assert r.stickiness_ppm == r.dau * 1_000_000 // r.wau
        assert wau_ref[r.day] == r.wau


def test_image_neardup_pairs_are_close_and_complete_within_cap(spark):
    """Every emitted pair's recomputed Hamming distance is within the
    threshold, and every exact-duplicate image pair (same text payload)
    appears (Hamming 0 pairs can't be missed by banding)."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.multimodal import (
        NEARDUP_HAM_MAX,
        multimodal_image_neardup,
        _ppm_payloads,
        _ahash64,
    )

    rows = multimodal_image_neardup(spark, SF01).collect()
    hashes = {
        r.doc_id: (r.h_hi, r.h_lo)
        for r in _ppm_payloads(spark, SF01)
        .mapInPandas(_ahash64, schema="doc_id bigint, h_hi bigint, h_lo bigint")
        .collect()
    }
    got_pairs = set()
    for r in rows:
        hi1, lo1 = hashes[r.d1]
        hi2, lo2 = hashes[r.d2]
        ham = bin(hi1 ^ hi2).count("1") + bin(lo1 ^ lo2).count("1")
        assert r.hamming == ham <= NEARDUP_HAM_MAX
        got_pairs.add((r.d1, r.d2))
    # exact payload dups share all bands -> must be found (unless their
    # bucket was capped, which the 64-cap never hits at sf0.01)
    texts = {}
    for t in load_table(spark, SF01, "documents").select("doc_id", "text").collect():
        texts.setdefault(t.text, []).append(t.doc_id)
    for ids in texts.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert (ids[i], ids[j]) in got_pairs


def test_audio_neardup_hamming_and_exact_dups(spark):
    """Audio fingerprint pairs: recomputed Hamming within threshold, and
    exact-payload duplicates always found (identical fingerprints share
    all bands)."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.multimodal import (
        FP_HAM_MAX,
        _audio_fp,
        _wav_payloads,
        multimodal_audio_neardup,
    )

    rows = multimodal_audio_neardup(spark, SF01).collect()
    fps = {
        r.doc_id: r.fp
        for r in _wav_payloads(spark, SF01)
        .mapInPandas(_audio_fp, schema="doc_id bigint, fp bigint")
        .collect()
    }
    got = set()
    for r in rows:
        ham = bin(fps[r.d1] ^ fps[r.d2]).count("1")
        assert r.hamming == ham <= FP_HAM_MAX
        got.add((r.d1, r.d2))
    texts = {}
    for t in load_table(spark, SF01, "documents").select("doc_id", "text").collect():
        texts.setdefault(t.text, []).append(t.doc_id)
    for ids in texts.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert (ids[i], ids[j]) in got


def test_video_scenes_demux_and_cut_rule(spark):
    """Every doc yields exactly VID_FRAMES frames, frame 0 has no delta
    and no cut, deltas telescope (sum of deltas == last - first gray),
    and the 10% cut rule reproduces from the row's own numbers."""
    from db_migrator_spark.operators.multimodal import (
        VID_FRAMES,
        multimodal_video_scenes,
    )

    rows = multimodal_video_scenes(spark, SF).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert per_doc
    any_cut = False
    for doc_id, rs in per_doc.items():
        rs.sort(key=lambda r: r.frame_id)
        assert len(rs) == VID_FRAMES
        assert rs[0].delta_gray is None and rs[0].is_cut is False
        for prev, cur in zip(rs, rs[1:]):
            assert cur.delta_gray == cur.gray_sum - prev.gray_sum
            assert cur.is_cut == (abs(cur.delta_gray) * 10 > prev.gray_sum)
            any_cut |= cur.is_cut
    # rotated-tile frames genuinely differ somewhere in the corpus
    assert any(
        any(c.delta_gray for c in rs[1:]) for rs in per_doc.values()
    )


def test_confusion_matrix_reconciles_with_predictions(spark):
    """Cell counts sum to the corpus size, row shares sum to ~1e6 per
    true language, and the diagonal flag matches the cell key."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.evals import eval_langid_confusion

    rows = eval_langid_confusion(spark, SF01).collect()
    n_docs = load_table(spark, SF01, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    by_true = {}
    for r in rows:
        assert r.is_correct == (r.labeled_lang == r.predicted_lang)
        assert r.row_share_ppm == r.n * 1_000_000 // r.n_true
        by_true.setdefault(r.labeled_lang, []).append(r)
    for lang, rs in by_true.items():
        assert sum(r.n for r in rs) == rs[0].n_true
        ppm = sum(r.row_share_ppm for r in rs)
        assert 1_000_000 - len(rs) <= ppm <= 1_000_000


def test_pr_sweep_monotone_recall_and_exact_f1(spark):
    """Recall is non-increasing in the threshold; tp+fn is constant
    (the positive count); F1 is the exact ppm harmonic mean."""
    from db_migrator_spark.operators.evals import eval_pr_sweep

    rows = sorted(eval_pr_sweep(spark, SF01).collect(), key=lambda r: r.threshold)
    assert len(rows) == 10
    positives = {r.tp + r.fn for r in rows}
    assert len(positives) == 1
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    for r in rows:
        p, rc = r.precision_ppm, r.recall_ppm
        want = 0 if p + rc == 0 else 2 * p * rc // (p + rc)
        assert r.f1_ppm == want


def test_calibration_bins_reconcile(spark):
    """Bin counts sum to the corpus size; gap is |mean score - pos
    rate|; the squash score is monotone so bins are length-ordered."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.evals import eval_calibration_bins

    rows = sorted(eval_calibration_bins(spark, SF01).collect(), key=lambda r: r.bin)
    n_docs = load_table(spark, SF01, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    for r in rows:
        assert r.calibration_gap_ppm == abs(r.mean_score_ppm - r.pos_rate_ppm)
        assert 0 <= r.pos_rate_ppm <= 1_000_000
    means = [r.mean_score_ppm for r in rows]
    assert means == sorted(means)


def test_retrieval_mrr_summary_is_mean(spark):
    """The sentinel q_id=-1 row carries the truncating mean of the
    per-query reciprocal ranks, and each rr matches its first_rank."""
    from db_migrator_spark.operators.evals import eval_retrieval_mrr

    rows = eval_retrieval_mrr(spark, SF01).collect()
    summary = [r for r in rows if r.q_id == -1]
    per_q = [r for r in rows if r.q_id >= 0]
    assert len(summary) == 1 and per_q
    for r in per_q:
        want = 0 if r.first_rank is None else 1_000_000 // r.first_rank
        assert r.rr_ppm == want
    assert summary[0].rr_ppm == sum(r.rr_ppm for r in per_q) // len(per_q)


def test_basket_rules_are_exact_ratios(spark):
    """Confidence and lift recompute from the row's own counters joined
    with independent item counts; support >= the declared floor."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.graph2 import (
        RULE_MIN_SUPPORT,
        q_basket_rules,
    )

    rows = q_basket_rules(spark, SF01).collect()
    assert rows
    li = (
        load_table(spark, SF01, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().count()
    cnt = {r.l_partkey: r.c for r in li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    for r in rows:
        assert r.support >= RULE_MIN_SUPPORT
        assert r.conf_1to2_ppm == r.support * 1_000_000 // cnt[r.p1]
        assert r.conf_2to1_ppm == r.support * 1_000_000 // cnt[r.p2]
        assert r.lift_ppm == r.support * n_orders * 1_000_000 // (
            cnt[r.p1] * cnt[r.p2]
        )


def test_dow_seasonality_conserves_and_centers(spark):
    """Weekday sums reassemble the total; signed deviations are the
    exact ppm of each weekday mean vs the overall mean."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.events2 import events_dow_seasonality

    rows = events_dow_seasonality(spark, SF01).collect()
    total = sum(r.sum_micros for r in rows)
    n_all = sum(r.n for r in rows)
    overall = total // n_all
    raw = (
        load_table(spark, SF01, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert n_all == raw
    for r in rows:
        assert r.mean_micro == r.sum_micros // r.n
        want = (r.mean_micro - overall) * 1_000_000
        # python // floors; the engines truncate toward zero
        assert r.dev_ppm == int(want / overall) if want < 0 else want // overall


def test_cusum_changepoint_matches_python(spark):
    """Per-user change position equals the Python argmax of |cusum| of
    integer deviations (earliest tie wins)."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.events2 import events_cusum_changepoint

    got = {r.user_id: (r.change_pos, r.cusum_micro)
           for r in events_cusum_changepoint(spark, SF).collect()}
    raw = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series = {}
    for r in sorted(raw, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(int(r.value * 1_000_000))
    assert got and set(got) == set(series)
    for uid, vals in series.items():
        n = len(vals)
        s = sum(vals)
        mean = s // n if s >= 0 else -((-s) // n)  # trunc toward zero
        best = None
        c = 0
        for i, v in enumerate(vals, start=1):
            c += v - mean
            if best is None or abs(c) > abs(best[1]):
                best = (i, c)
        assert got[uid] == best, uid


def test_gini_bounds_and_python_parity(spark):
    """Gini in [0, 1e6); matches the closed form recomputed in Python
    per nation (truncating division)."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.quality import q_revenue_gini

    rows = q_revenue_gini(spark, SF01).collect()
    assert rows
    rev = (
        load_table(spark, SF01, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint")).alias("y"))
        .join(
            load_table(spark, SF01, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_nationkey", "o_custkey", "y")
        .collect()
    )
    by_nation = {}
    for r in rev:
        by_nation.setdefault(r.c_nationkey, []).append((r.y, r.o_custkey))
    for r in rows:
        ys = [y for y, _ in sorted(by_nation[r.c_nationkey], key=lambda t: (t[0], t[1]))]
        n, sy = len(ys), sum(ys)
        siy = sum((i + 1) * y for i, y in enumerate(ys))
        want = (2 * siy - (n + 1) * sy) * 1_000_000 // (n * sy)
        assert r.gini_ppm == want
        assert 0 <= r.gini_ppm < 1_000_000


def test_user_trend_matches_python_ols(spark):
    """Slopes equal the integer closed form; constant-time users (all
    purchases in one hour bucket) are NULL; slopes of both signs
    exist."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.events2 import events_user_trend

    got = {r.user_id: r.slope_micro_per_hr
           for r in events_user_trend(spark, SF).collect()}
    raw = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
        .collect()
    )
    series = {}
    for r in raw:
        us = int(r.ts.timestamp() * 1_000_000)
        series.setdefault(r.user_id, []).append((us, int(r.value * 1_000_000)))
    assert set(got) == set(series)

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    signs = set()
    for uid, pts in series.items():
        us0 = min(u for u, _ in pts)
        xs = [(u - us0) // 3_600_000_000 for u, _ in pts]
        ys = [y for _, y in pts]
        n, sx, sy = len(xs), sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        den = n * sxx - sx * sx
        want = None if den == 0 else trunc_div(n * sxy - sx * sy, den)
        assert got[uid] == want, uid
        if want is not None:
            signs.add(want >= 0)
    assert len(signs) == 2 or len(series) < 5


def test_lead_time_percentiles_ordered_and_observed(spark):
    """p25 <= p50 <= p75 per priority, and every pick is an observed
    lead-time value for that priority."""
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.quality import q_lead_time_percentiles

    rows = q_lead_time_percentiles(spark, SF01).collect()
    assert len(rows) == 5
    li = load_table(spark, SF01, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    obs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").alias("d"),
        )
        .collect()
    )
    per = {}
    for r in obs:
        per.setdefault(r.o_orderpriority, set()).add(r.d)
    for r in rows:
        assert r.p25_days <= r.p50_days <= r.p75_days
        for q in (25, 50, 75):
            assert getattr(r, f"p{q}_days") in per[r.o_orderpriority]


def test_leakage_audit_content_hash_is_clean_by_construction(spark):
    """The content-hash strategy must report ZERO straddling groups and
    zero contaminated docs at any corpus; the id-hash strategy's counts
    bound them by the duplicate-group count. Runs on sf0.1: its corpus
    has duplicate groups that the id hash splits across train and eval,
    where sf0.01 has none and would leave the id-hash bounds unchecked."""
    import os

    from db_migrator_spark.operators.splits import corpus_split_leakage_audit

    sf = os.path.join(os.path.dirname(SF01), "sf0.1")
    rows = {r.strategy: r for r in corpus_split_leakage_audit(spark, sf).collect()}
    assert set(rows) == {"content_hash", "id_hash"}
    c, i = rows["content_hash"], rows["id_hash"]
    assert c.dup_groups == i.dup_groups  # same corpus, same dup structure
    assert c.straddling_groups == 0 and c.contaminated_eval_docs == 0
    assert i.dup_groups > 0
    assert i.straddling_groups > 0
    assert i.straddling_groups <= i.dup_groups
    assert i.contaminated_eval_docs >= i.straddling_groups


def test_global_percentiles_match_window_form(spark):
    """The bin-selection global quantiles must equal the sorted-list
    type-1 picks recomputed in Python (the window form's ground truth),
    proving the documented giant-group fallback is exact."""
    import math

    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.quality import q_exact_percentiles_global

    rows = {r.pct: r for r in q_exact_percentiles_global(spark, SF01).collect()}
    vals = sorted(
        (r.o_totalprice, r.o_orderkey)
        for r in load_table(spark, SF01, "orders")
        .select("o_totalprice", "o_orderkey")
        .collect()
    )
    n = len(vals)
    for q in (25, 50, 75):
        k = max(1, math.ceil(n * q / 100))
        assert rows[q].n_rows == n
        assert rows[q].value == vals[k - 1][0], q


def test_part_growth_exact_and_adjacent_months(spark):
    """Growth rows only compare directly adjacent months, ppm growth
    recomputes from the row's own revenues, counts descend."""
    from db_migrator_spark.operators.quality import (
        GROWTH_MIN_BASE,
        q_part_growth,
    )

    rows = q_part_growth(spark, SF01).collect()
    assert rows
    growths = [r.growth_ppm for r in rows]
    assert growths == sorted(growths, reverse=True)
    for r in rows:
        assert r.prev_rev_micros >= GROWTH_MIN_BASE
        want = (r.rev_micros - r.prev_rev_micros) * 1_000_000
        base = r.prev_rev_micros
        exp = want // base if want >= 0 else -((-want) // base)
        assert r.growth_ppm == exp


def test_audio_segments_islands_are_maximal_runs(spark):
    """Segments are maximal runs of above-mean frames: recomputed from
    the frame energies, every segment matches and none are adjacent."""
    from db_migrator_spark.operators.multimodal import (
        _ENERGY_SCHEMA,
        _frame_energy,
        _wav_payloads,
        multimodal_audio_segments,
    )

    segs = multimodal_audio_segments(spark, SF).collect()
    frames = (
        _wav_payloads(spark, SF)
        .mapInPandas(_frame_energy, schema=_ENERGY_SCHEMA)
        .collect()
    )
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append((f.frame_id, f.sum_sq))
    want = {}
    for doc, fs in by_doc.items():
        fs.sort()
        total = sum(e for _, e in fs)
        active = [(fid, e) for fid, e in fs if e * len(fs) > total]
        run = []
        for fid, e in active:
            if run and fid == run[-1][0] + 1:
                run.append((fid, e))
            else:
                if run:
                    want[(doc, run[0][0])] = (len(run), sum(e for _, e in run))
                run = [(fid, e)]
        if run:
            want[(doc, run[0][0])] = (len(run), sum(e for _, e in run))
    got = {(s.doc_id, s.seg_start_frame): (s.seg_len, s.seg_energy) for s in segs}
    assert got == want and got


def test_join_audit_reconciles(spark):
    """matched + orphan = child rows; clean fixture has full referential
    integrity (match_rate 1e6, zero orphans) on every relation."""
    from db_migrator_spark.operators.quality import q_join_cardinality_audit

    rows = q_join_cardinality_audit(spark, SF01).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.matched_rows + r.orphan_rows == r.child_rows
        assert r.orphan_rows == 0 and r.match_rate_ppm == 1_000_000
        assert r.matched_parents > 0
        assert r.avg_fanout_floor == r.matched_rows // r.matched_parents
