"""Deduplication operators over the ``documents`` table.

The reference has no dedup (it is a 1:1 table copier); these are the
north-star training-data-pipeline operators (BASELINE.json), built
Spark-first:

- exact dedup: single hash groupBy — one shuffle on the text hash;
- n-gram Jaccard, containment and the threshold sweep: exact pairwise
  overlap restricted to pairs sharing at least one shingle
  (``_overlapping_pairs``, an inverted-index self-join) — never a
  cartesian product;
- MinHash-LSH: signature + banding so candidate generation is a bucket
  groupBy; only bucket-mates are compared, then exact-verified. Two
  implementations: ``dedup_minhash_lsh`` (xxhash64, rows-only) and
  ``dedup_minhash_portable`` (md5, oracle-backed); the md5 signatures
  cost ~1.5x the xxhash64 wall at sf1, so the fast one stays;
- SimHash (``dedup_simhash``): 64-bit fingerprint + banded Hamming
  candidates, exact-verified, oracle-backed.

Each LSH family is a cheap candidate filter sized for recall, then an
exact check. The stages are built once and shared: ``_word_shingles``
(the string 3-gram set of the oracle-backed queries),
``_md5_signatures``, ``_cap_members`` (deterministic bucket cap),
``_bucket_pairs`` (candidate pairs) and ``_candidate_overlap`` (the
exact verify).

Scale notes (100 TB): every operator here is shuffle-bounded by
|shingles| or |buckets|, not |docs|². The shingle inverted index is the
classic skew risk (a stop-shingle shared by millions of docs explodes the
join); ``MAX_SHINGLE_DF`` drops shingles with document frequency above a
cap — standard practice (a shingle shared by >K docs carries no dedup
signal) and it bounds the per-key join fan-out, which AQE skew-split then
handles comfortably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..io import fan_out, load_table, ngram_explode

# Every "group then pair" operator needs a cap because within-group pairing
# is QUADRATIC in group size. The caps are derived from per-group pair
# budgets, not tuned per fixture — and deliberately do NOT grow with corpus
# size: a cap proportional to |docs| would make the worst-case join output
# grow as |docs|^2 (each hot key emits cap^2 pairs). What grows with the
# corpus is the NUMBER of groups, which parallelizes; the per-group budget
# is what bounds a single task. Measured sweep: docs/SCALING.md §"Dedup cap
# sweep at 10x".

# A shingle shared by > MAX_SHINGLE_DF docs is boilerplate (carries no
# near-dup signal) AND would emit up to df^2/2 candidate pairs from one
# join key. Budget: ~0.5M pairs per shingle -> df cap sqrt(2 * budget).
SHINGLE_PAIR_BUDGET = 500_000
MAX_SHINGLE_DF = int((2 * SHINGLE_PAIR_BUDGET) ** 0.5)  # = 1000

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # bands of r = K/BANDS rows each

# Band buckets above this size are excluded from pairwise candidate
# generation: a giant bucket = a cluster of (near-)identical docs, which
# exact dedup already collapses (see docs/SCALING.md for the measured
# blowup). Budget: ~2k pairs per bucket -> bucket cap sqrt(2 * budget).
BUCKET_PAIR_BUDGET = 2_048
MAX_BAND_BUCKET = int((2 * BUCKET_PAIR_BUDGET) ** 0.5)  # = 64

# Exact-Jaccard OUTPUT cap (round 12, VERDICT r11 #7; made SYMMETRIC
# round 13 per ADVICE r12): a dup cluster of m docs emits m*(m-1)/2
# scored pairs — the last uncapped quadratic output in the tree. A pair
# survives when it ranks within the top MAX_PAIRS_PER_DOC partners of
# EITHER endpoint (rank-ordered: jaccard DESC, partner id ASC —
# deterministic, oracle mirrors the same construction), and carries a
# ``truncated`` flag when either endpoint had more partners than the
# cap. The symmetric form is what makes the connectivity invariant
# actually true: the r12 cap ranked per d1 only, so a doc appearing
# solely as d2 could lose every edge when all its partners' top-64
# lists overflowed; ranking from both endpoints guarantees EVERY doc
# retains its best-scoring edge, so cluster membership survives
# truncation. Output is <= |docs| * 2 * 64 rows; clusters smaller than
# the cap — every cluster at every test SF (fixture max partner count:
# 3 at sf0.1) — are bit-exact untouched.
MAX_PAIRS_PER_DOC = 64

# Portable MinHash-LSH: md5-based signatures so the WHOLE LSH path —
# signatures, banding, bucket capping, candidate generation, exact
# verify — is value-hash-provable against the DuckDB twin. The fast
# sibling (dedup_minhash_lsh) keeps xxhash64 and stays rows-only: in
# fresh-JVM A/B (tools/cold_ab.py, 4 cores) this variant is ~10% faster
# at sf0.1 but ~1.5x slower at sf1, where its 8 md5 hex digests per
# (doc, shingle) dominate. Signatures are the min md5 HEX STRING per
# salt: fixed-width lowercase hex compares lexicographically ==
# numerically, so no hex -> int conversion is needed anywhere.
PORTABLE_MINHASH_K = 8  # signature length (md5 salts 0..K-1)
PORTABLE_MINHASH_BANDS = 4  # 2 signatures per band
PORTABLE_BUCKET_CAP = 64  # bucket members kept (by doc_id; deterministic)
PORTABLE_JACCARD_PPM = 200_000  # exact-verify threshold

# Exact shingle Jaccard in integer ppm over ``_candidate_overlap`` /
# ``_overlapping_pairs`` columns (the oracles' HUGEINT twin).
_JACCARD_PPM = "CAST(shared * 1000000 div (n1 + n2 - shared) AS BIGINT)"


def _cap_buckets(buckets: DataFrame, keys: list[str], max_size: int) -> DataFrame:
    """Drop candidate buckets larger than ``max_size`` — the shared guard
    of the skip-the-hot-bucket operators (minhash bands, session-overlap
    hours, image-hash bands, embedding LSH tables)."""
    hot = (
        buckets.groupBy(*keys).count().filter(F.col("count") > max_size).select(*keys)
    )
    return buckets.join(F.broadcast(hot), keys, "left_anti")


def _bucket_pairs(
    capped: DataFrame,
    keys: list[str],
    id_col: str,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Ordered distinct (d1 < d2) id pairs within each capped bucket, via
    the row-local C(k,2) explode (r9e idiom, re-landed round 10 for the
    capped-bucket subset only): one groupBy on the bucket keys collects
    the sorted member list (<= ``MAX_BAND_BUCKET`` = 64 by the cap), then
    the pair explode runs inside codegen — vs the self-join that shuffled
    the banded keys twice and sort-merged. The sorted list makes
    strictly-later slicing identical to the join's ``a.id < b.id`` pair
    set (ids are unique within a bucket, so sorting by the struct's
    leading id field is a total order). Each ``payload_cols`` entry c
    rides along as ``c_1``/``c_2`` (both pair sides) — used by SimHash
    for the fingerprint strings the Hamming gate needs. NOT used for the
    shingle inverted index (millions of 1-2-doc posting lists), where
    the same rewrite measured 2.4x WORSE — see BENCH_NOTES round-9e for
    the win condition. DuckDB oracles keep the self-join formulation
    (the contract is on values; the hash self-join is DuckDB's fast
    plan)."""
    member = (
        F.struct(id_col, *payload_cols) if payload_cols else F.col(id_col)
    )
    members = capped.groupBy(*keys).agg(
        F.sort_array(F.collect_list(member)).alias("ms")
    )
    if payload_cols:
        fields = ", ".join(
            [f"x.{id_col} AS d1", f"y.{id_col} AS d2"]
            + [f"x.{c} AS {c}_1" for c in payload_cols]
            + [f"y.{c} AS {c}_2" for c in payload_cols]
        )
    else:
        fields = "x AS d1, y AS d2"
    out_cols = ["p.d1", "p.d2"] + [
        f"p.{c}_{s}" for c in payload_cols for s in (1, 2)
    ]
    return (
        members.select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), "
                    f"y -> struct({fields}))))"
                )
            ).alias("p")
        )
        .select(*out_cols)
        .distinct()
    )


def _cap_members(
    bands: DataFrame, keys: list[str], id_col: str, cap: int
) -> DataFrame:
    """Keep the ``cap`` lowest-``id_col`` members of each ``keys`` bucket
    — the deterministic C(cap,2) pair bound of the portable LSH
    pipelines (oracle twin: ``ROW_NUMBER() OVER (PARTITION BY keys ORDER
    BY id) <= cap``). Its window shuffles on the bucket keys, so the
    following ``_bucket_pairs`` groupBy reuses that partitioning."""
    rn = F.row_number().over(W.partitionBy(*keys).orderBy(id_col))
    return bands.withColumn("rn", rn).filter(F.col("rn") <= cap).drop("rn")


def _word_shingles(docs: DataFrame) -> DataFrame:
    """Distinct ``(doc_id, s)`` word 3-gram strings of ``docs`` — the
    shingle set of the oracle-backed near-dup queries (DuckDB twin:
    ``_sql_shingles``). Docs under 3 words have no rows. Every caller
    reads it more than once (signatures, sizes, both overlap sides), so
    it is materialized once with ``localCheckpoint``."""
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    return ngram_explode(ws, "ws", 3, "s", "doc_id").distinct().localCheckpoint()


def _md5_signatures(shingles: DataFrame) -> DataFrame:
    """``(doc_id, sig0..sig{K-1})`` portable MinHash signatures: per salt
    k, the min md5 hex digest of ``"k:" || s`` — all K in ONE
    map-side-combinable groupBy."""
    return shingles.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("s")))).alias(f"sig{k}")
            for k in range(PORTABLE_MINHASH_K)
        ]
    )


def _overlapping_pairs(index: DataFrame, key: str) -> DataFrame:
    """Every ``d1 < d2`` doc pair of a ``(doc_id, key)`` shingle index
    that shares at least one shingle: ``(d1, d2, shared, n1, n2)`` with
    the per-doc distinct-shingle counts n1, n2 — the exact-overlap half
    of the all-pairs operators.

    The inverted-index self-join shuffles on the shingle key and takes a
    ``shuffle_hash`` hint (the pair explosion makes sort-merge's sorts
    pure overhead); the per-doc sizes are broadcast (tiny relative to
    the pair set)."""
    sizes = index.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = index.alias("a")
    b = index.hint("shuffle_hash").alias("b")
    shared = (
        a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    s1 = F.broadcast(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")))
    s2 = F.broadcast(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")))
    return shared.join(s1, "d1").join(s2, "d2").select("d1", "d2", "shared", "n1", "n2")


def _candidate_overlap(shingles: DataFrame, cand: DataFrame, key: str) -> DataFrame:
    """Exact overlap of a ``(d1, d2, ...)`` candidate frame against a
    ``(doc_id, key)`` shingle index: ``cand``'s columns plus ``shared``
    (0 when the pair has no common shingle), ``n1`` and ``n2`` — the
    verify half of the portable LSH pipelines. A pair whose d1 or d2 has
    no shingles (under 3 words) drops out.

    Cost is candidate-proportional, never all-pairs: each pair meets
    d1's shingles, a LEFT join on (d2, shingle) marks the common ones,
    and one groupBy over ``cand``'s columns counts them, so ``cand`` is
    read once. LEFT-joining ``cand`` to a separately aggregated count
    reads it twice, plans its LSH lineage twice, and measured +21% on
    dedup_minhash_portable at sf0.1 (median of 6 interleaved fresh-JVM
    pairs, 4 cores)."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col("doc_id").alias("d1"), key)
    sb = shingles.select(F.col("doc_id").alias("d2"), key, F.lit(1).alias("hit"))
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        cand.join(sa, "d1")
        .join(sb, ["d2", key], "left")
        .groupBy(*cand.columns)
        .agg(F.count("hit").alias("shared"))
        .join(s1, "d1")
        .join(s2, "d2")
        .select(*cand.columns, "shared", "n1", "n2")
    )


def _shingle_index_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted shingle index built IN-PLAN, per invocation.

    Rounds 7-13 persisted this index to a /tmp cache keyed on the
    documents parquet fingerprint (the offline/online split a production
    pipeline would use). The optimization-round contract forbids
    persisted intermediates keyed on the test data — every bench/oracle
    invocation must compute from the parquet inputs — so the index is
    now rebuilt inside each invocation (round 14; the honest rebuild
    cost is ~0.5-0.9s per query at sf0.1, see OPTIMIZATION_r14.md).
    Every caller reads the index more than once (signatures or sizes,
    plus the verify joins), so it is materialized once with
    ``localCheckpoint``.
    """
    return _shingle_index(load_table(spark, sf_dir, "documents")).localCheckpoint()


def _shingle_index(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle:bigint) inverted index of distinct word 3-grams,
    with frequency capping. Built-ins only — no UDF, whole-stage codegen.

    Two deliberate plan choices, measured at sf0.1:

    - The word array is materialized in its own projection BEFORE the
      higher-order functions touch it. Referencing ``split(text)`` directly
      inside a ``transform`` lambda re-evaluates the split per array
      element (~150 splits/row) — 5.8s vs 2.1s for the index build.
    - Shingle identity is ``xxhash64(h[i], h[i+1], h[i+2])`` over
      pre-hashed words rather than a concatenated string (2.1s -> 0.6s, and
      the self-join shuffles 8-byte keys). Collision odds across a 100 TB
      corpus' shingle vocabulary are ~|V|^2 / 2^65 — negligible against a
      near-dup threshold decision.
    """
    wh = docs.select(
        "doc_id",
        F.transform(F.split(F.col("text"), " "), lambda x: F.xxhash64(x)).alias("h"),
    ).filter(F.size("h") >= 3)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("h") - 3),
            lambda i: F.xxhash64(F.get("h", i), F.get("h", i + 1), F.get("h", i + 2)),
        )
    )
    sh = wh.select("doc_id", F.explode(grams).alias("shingle"))
    hot = (
        sh.groupBy("shingle").count().filter(F.col("count") > MAX_SHINGLE_DF).select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content. One shuffle keyed by the text
    hash; the kept id is the minimum doc_id per group (deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over candidate pairs sharing >= 1 shingle.

    shared(a,b) comes from the inverted-index self-join (shuffle on
    shingle); |a| and |b| are per-doc distinct-shingle counts. Jaccard is
    integer arithmetic until the final double division — deterministic in
    both engines.

    Plan shape: the shingle index feeds THREE consumers (sizes, both join
    sides) from one in-plan build + localCheckpoint per invocation
    (``_shingle_index_fresh`` — round 14 removed the cross-run /tmp
    index cache per the no-precomputation rule); ``_overlapping_pairs``
    is the hash self-join with broadcast sizes.

    Output is budgeted at ``MAX_PAIRS_PER_DOC`` best partners per doc,
    SYMMETRICALLY (cap rationale above): the scored pairs are viewed
    from both endpoints, ranked per endpoint (a per-entity-grain window
    — already parallel), and a pair survives when either endpoint ranks
    it within the cap, flagged ``truncated`` when either endpoint's
    partner list overflowed. The oracle applies the identical
    construction.
    """
    scored = (
        _overlapping_pairs(_shingle_index_fresh(spark, sf_dir), "shingle")
        .select(
            "d1",
            "d2",
            (F.col("shared").cast("double") / (F.col("n1") + F.col("n2") - F.col("shared"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )
    # The symmetric endpoint view consumes scored TWICE with DIFFERING
    # projections (no exchange reuse — the SCALE.md multi-consumer rule,
    # case 3): checkpoint the budget-bounded scored pairs once so the
    # expensive shared/sizes lineage runs once, not per orientation.
    scored = scored.localCheckpoint(eager=False)
    ends = scored.select(
        F.col("d1").alias("d"), F.col("d2").alias("p"), "jaccard"
    ).unionByName(
        scored.select(F.col("d2").alias("d"), F.col("d1").alias("p"), "jaccard")
    )
    we = W.partitionBy("d")
    ranked = ends.withColumn(
        "__rn", F.row_number().over(we.orderBy(F.col("jaccard").desc(), "p"))
    ).withColumn("__tr", F.count(F.lit(1)).over(we) > MAX_PAIRS_PER_DOC)
    return (
        ranked.groupBy(
            F.least("d", "p").alias("d1"), F.greatest("d", "p").alias("d2")
        )
        .agg(
            # Both endpoint rows carry the identical jaccard; min picks it.
            F.min("jaccard").alias("jaccard"),
            (F.min("__rn") <= MAX_PAIRS_PER_DOC).alias("__keep"),
            F.max("__tr").alias("truncated"),
        )
        .filter(F.col("__keep"))
        .select("d1", "d2", "jaccard", "truncated")
        .orderBy("d1", "d2")
    )


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h{K-1}) — K independent min-hashes per doc.

    K permutations are simulated with K seeded xxhash64s of the shingle;
    the groupBy computes all K mins in one shuffle pass (map-side partial
    min, so the shuffle carries K longs per doc per partition).

    The signature frame (|docs| x K+1 longs — tiny) has three consumers
    (banding + both similarity sides); ``localCheckpoint`` computes it
    once (3.1s -> 2.35s at sf0.1). Checkpointing the much larger shingle
    index here as well is a LOSS (2.9s) — it has one consumer, so the
    materialization buys nothing.
    """
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*mins).localCheckpoint()


def _verify_pairs_exact_jaccard(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard for a ``(d1, d2)`` candidate frame — the
    verify half of ``dedup_minhash_lsh`` (candidates -> exact score -> keep).

    Cost is candidate-proportional, never all-pairs: the candidate set is
    already budget-bounded by ``_cap_buckets``, the shared-shingle count is
    an equi-join on (doc, shingle), and the per-doc sizes broadcast. Docs
    with no rows in the capped index are unverifiable and drop out: docs
    under 3 words AND docs whose every shingle is frequency-capped
    (all-boilerplate text). Both are deliberate and match the exact twin —
    a doc made entirely of >MAX_SHINGLE_DF shingles is a mass-duplicate
    template, which is exact dedup's job (``dedup_exact``), not pairwise
    LSH's; see the cap rationale at the top of this module.

    Plan shape: the index is first SEMI-JOINED down to candidate docs, so
    the sizes aggregation and both join sides see |cand docs| x shingles,
    not the whole corpus — the full-index pass is one broadcast-filtered
    scan of the index. Measured at sf0.1 this cut
    dedup_minhash_lsh's verify overhead from ~1.0s to ~0.3s; at 100 TB it
    is the difference between a corpus-wide doc_id shuffle and one sized
    by the candidate set. The semi-join deliberately carries NO broadcast
    hint: AQE broadcasts the doc list while it is small, and falls back to
    a shuffle semi-join when a 100 TB candidate set outgrows the driver —
    both correct, no OOM cliff. ``cand`` is checkpointed once — it is tiny
    (budget-bounded pairs) but its LSH lineage is the expensive half of
    the query, and it fans out to four consumers here (doc-list derivation
    x3 index scans + the verify join); checkpointing the restricted index
    as well was A/B'd and LOST (+0.6s job-launch latency at sf0.1).

    It stays separate from ``_candidate_overlap`` on measurement:
    ``_candidate_overlap(sh, est, "shingle")`` here gave the same pairs
    but a median of 1.770s against 1.576s at sf0.1, faster in 2 of 10
    interleaved fresh-JVM pairs (4 cores). That join form meets every
    candidate with all of d1's index rows; this one intersects the two
    per-doc sets of the candidate docs only.
    """
    cand = cand.localCheckpoint()
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    # One pass over the restricted index produces BOTH the per-doc shingle
    # set and its size; intersection counting then happens JVM-side with
    # array_intersect on the (distinct) 8-byte shingle hashes. Arrays are
    # bounded by shingles-per-doc (~doc length), never corpus size.
    sets = (
        sh.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    s1 = sets.select(F.col("doc_id").alias("d1"), F.col("s").alias("s1"), F.col("n").alias("n1"))
    s2 = sets.select(F.col("doc_id").alias("d2"), F.col("s").alias("s2"), F.col("n").alias("n2"))
    shared = F.size(F.array_intersect(F.col("s1"), F.col("s2")))
    joined = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            shared.cast("double") / (F.col("n1") + F.col("n2") - shared),
        )
    )
    # Using-column joins float d2 ahead of d1; pin the natural pair order
    # so the public schemas stay (d1, d2, ..., jaccard).
    keep = [c for c in cand.columns if c not in ("d1", "d2")]
    return joined.select("d1", "d2", *keep, "jaccard")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding, exact-verified: near-dup pairs found via
    banded signature buckets, each kept pair carrying BOTH the estimated
    Jaccard (matching-minhash fraction) and the exact shingle Jaccard,
    which must clear the same 0.2 threshold as the exact twin.

    Pipeline: signatures -> explode into (band, band_hash) keys -> groupBy
    bucket -> pairs within bucket -> dedupe pairs -> estimate similarity
    from the signatures -> EXACT-VERIFY survivors. All joins are key-equi
    joins; nothing is O(n^2). The pair list is still hash-dependent (which
    buckets collide), so the DuckDB check stays rows-only — but every
    emitted row is now self-validating: its ``jaccard`` column is
    recomputable exact arithmetic that provably clears the threshold, so
    a verifier can bound-check the output without reproducing xxhash64.
    Recall vs the exact twin stays pinned in tests/test_llm_ops.py.
    """
    r = MINHASH_K // LSH_BANDS
    # The shingle index has two consumers (signatures + the verify
    # helper's candidate semi-join) — one in-plan build + localCheckpoint
    # per invocation (round 14: cross-run cache removed).
    sh = _shingle_index_fresh(spark, sf_dir)
    sig = _minhash_signatures(sh)
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(*[F.col(f"h{band * r + j}") for j in range(r)]).alias("bhash"),
            )
            for band in range(LSH_BANDS)
        ]
    )
    buckets = sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bhash").alias("bhash")
    )
    buckets = _cap_buckets(buckets, ["band", "bhash"], MAX_BAND_BUCKET)
    # Stays a self-join (NOT _bucket_pairs): this cap is the anti-join
    # guard, so the banded keys are not already shuffled on the bucket
    # key — the explode's groupBy would ADD an exchange (A/B r10: +12%),
    # unlike the portables whose row_number cap pre-shuffles.
    l, rgt = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            rgt,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("d1"), F.col("r.doc_id").alias("d2"))
        .distinct()
    )
    sl = sig.select(F.col("doc_id").alias("d1"), *[F.col(f"h{i}").alias(f"l{i}") for i in range(MINHASH_K)])
    sr = sig.select(F.col("doc_id").alias("d2"), *[F.col(f"h{i}").alias(f"r{i}") for i in range(MINHASH_K)])
    matches = sum(
        F.when(F.col(f"l{i}") == F.col(f"r{i}"), 1).otherwise(0) for i in range(MINHASH_K)
    )
    est = (
        cand.join(sl, "d1").join(sr, "d2")
        .select("d1", "d2", (matches / F.lit(float(MINHASH_K))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )
    return (
        _verify_pairs_exact_jaccard(sh, est)
        .filter(F.col("jaccard") >= 0.2)
        .orderBy("d1", "d2")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group clustering: connected components over the near-dup
    pair graph (jaccard >= 0.2 edges), so each duplicate cluster keeps one
    canonical doc.

    Iterative min-label propagation: every node adopts the smallest label
    among itself and its neighbors until fixpoint. Each iteration is one
    join + one groupBy (both shuffle on doc_id); rounds needed = graph
    diameter (near-dup clusters are tiny, so 2-3 rounds). The driver only
    ever sees the per-round convergence count — the classic scalable CC
    formulation (no union-find on the driver).

    Oracle-checked: the DuckDB twin computes the same components with a
    recursive transitive-closure CTE (viable at oracle scale; the Spark
    side stays iterative because closure is quadratic in component size).
    Exactness vs a driver-side union-find is additionally pinned in tests.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    # localCheckpoint truncates lineage: without it every iteration replans
    # and re-executes ALL previous rounds (quadratic blowup — 15.6s -> ~4s
    # on the fixture graph). Same rule applies to any iterative algorithm
    # on a cluster (checkpoint to reliable storage there).
    edges = pairs.unionByName(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("d1").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(50):  # diameter bound; fixture clusters converge in <=3
        neighbor_min = (
            edges.join(labels, edges.d2 == labels.node)
            .groupBy(F.col("d1").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        import logging

        logging.getLogger(__name__).warning(
            "dedup_clusters: label propagation did not converge within the "
            "iteration bound (%d labels still changing) — a duplicate chain "
            "longer than the bound exists; returned components may be split.",
            changed,
        )
    # ``members`` is a sorted CSV string, not array<bigint>: scalar columns
    # survive any downstream canonicalizer/sorter (arrays numpy-ify into
    # unhashable cells), and the rendering is deterministic either way.
    return (
        labels.groupBy("label")
        .agg(F.collect_set("node").alias("members"), F.count(F.lit(1)).alias("size"))
        .select(
            F.col("label").alias("cluster_id"),
            F.array_join(
                F.transform(F.array_sort("members"), lambda x: x.cast("string")), ","
            ).alias("members"),
            "size",
        )
        .orderBy("cluster_id")
    )


# --- Embedding-cosine near-dup -------------------------------------------
# Blocking: the sign pattern of the vector, split into EMB_BANDS bands of
# EMB_BAND_BITS consecutive sign bits (a deterministic SimHash over the
# identity "hyperplanes"). Near-identical vectors agree on almost all sign
# bits, so they collide in at least one band; random pairs collide in a
# given band with prob 2^-EMB_BAND_BITS. Deterministic (no RNG), so the
# DuckDB oracle replicates the exact candidate set and the result
# hash-matches — unlike the seeded-hyperplane LSH in similarity.py, which
# trades determinism-in-SQL for better-conditioned projections.
EMB_BANDS = 8
EMB_BAND_BITS = 8
EMB_COSINE_THRESHOLD = 0.40


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-band blocking + exact cosine.

    Plan shape (scale notes): explode |corpus| x EMB_BANDS slim rows
    (vec_id, band, bucket — 3 longs, no payload), cap hot buckets
    (``_cap_buckets``: within-bucket pairing is quadratic), equi-join on
    (band, bucket), distinct on bare (v1, v2) BEFORE rejoining the 64-float
    payload, then one exact cosine per surviving candidate. Linear in
    corpus size; never all-pairs. The cosine fold matches DuckDB's
    list_dot_product evaluation order bit-for-bit.

    Recall is a function of how far above the sign-agreement knee the
    pairs sit: P(bit agree) = 1 - arccos(cos)/pi, so an 8-bit band
    collides with p^8 — ~93% pair recall at cos 0.9 (the near-dup regime
    this blocks for; pinned in tests/test_llm_ops.py with planted dups),
    but only ~25% at cos 0.4 (measured 27% on the isotropic fixture,
    whose max pair cosine is 0.51 — it contains no actual near-dups).
    The candidate semantics themselves are exact and deterministic: the
    oracle reproduces the same banded candidate set, so the driver
    hash-match covers verify-stage correctness, not blocking recall.
    """
    from .similarity import MAX_LSH_BUCKET, _as_double, _dot

    emb = load_table(spark, sf_dir, "embeddings")
    bands = [
        sum(
            F.when(F.element_at("embedding", EMB_BAND_BITS * b + i + 1) > 0.0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(EMB_BAND_BITS)
        )
        for b in range(EMB_BANDS)
    ]
    # Slim (vec_id, t, bucket) frame feeds three consumers (hot-bucket
    # list + both self-join sides); localCheckpoint scans the parquet once
    # instead of three times.
    bucketed = (
        emb.select("vec_id", F.posexplode(F.array(*bands)))
        .withColumnsRenamed({"pos": "t", "col": "bucket"})
        .localCheckpoint()
    )
    keyed = _cap_buckets(bucketed, ["t", "bucket"], MAX_LSH_BUCKET)
    # Round 14: the shared row-local C(k,2) explode (_bucket_pairs) was
    # A/B'd here and LOST 3/3 (2.3-2.9s -> 3.1-5.7s): sign-band buckets
    # average ~1 member (16k rows over ~16k buckets), so collect_list +
    # sort_array + explode over millions of near-singleton groups costs
    # more than the slim self-join — the same anti-regime documented on
    # _bucket_pairs for the shingle inverted index. The self-join stays.
    l, r = keyed.alias("el"), keyed.alias("er")
    cand = (
        l.join(
            r,
            (F.col("el.t") == F.col("er.t"))
            & (F.col("el.bucket") == F.col("er.bucket"))
            & (F.col("el.vec_id") < F.col("er.vec_id")),
        )
        .select(F.col("el.vec_id").alias("v1"), F.col("er.vec_id").alias("v2"))
        .distinct()
    )
    # Per-vector norms are computed ONCE per vector on the payload sides
    # (|corpus| folds), not per candidate pair — at 61k pairs / 2k vectors
    # (sf0.1) that removes ~2/3 of the fold work. The cosine is therefore
    # dot/(n1*n2): the oracle factors its sqrt identically, because
    # sqrt(x*y) != sqrt(x)*sqrt(y) in IEEE and the hash compare is exact.
    # (An unrolled 64-term codegen chain was A/B'd here and measured 2x
    # SLOWER than the zip_with/aggregate fold — the wide Add tree defeats
    # codegen; HOFs win despite interpreted evaluation.)
    norm = F.sqrt(_dot(_as_double(F.col("embedding")), _as_double(F.col("embedding"))))
    e1 = emb.select(
        F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1"), norm.alias("n1")
    )
    e2 = emb.select(
        F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2"), norm.alias("n2")
    )
    # NOTE: the threshold filter still collapses into the payload join and
    # re-evaluates the pair dot per surviving row (2 folds/pair instead of
    # 1). Measured A/B in round 1: a localCheckpoint barrier before the
    # filter costs MORE than the duplicate fold because candidates are a
    # small fraction of the corpus — the duplication is a constant factor
    # on an already-small set, while the barrier serializes the job.
    cos = _dot(_as_double(F.col("emb1")), _as_double(F.col("emb2"))) / (
        F.col("n1") * F.col("n2")
    )
    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .select("v1", "v2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= EMB_COSINE_THRESHOLD)
        .orderBy("v1", "v2")
    )



# Containment threshold for the asymmetric near-dup miner (ppm of the
# SMALLER doc's shingles shared). Jaccard misses subset duplication —
# a short doc fully embedded in a long one scores low Jaccard but 1e6
# containment; this is the boilerplate/quote catcher.
CONTAIN_MIN_PPM = 500_000


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle CONTAINMENT over candidate pairs: both directional
    ratios |A∩B|/|A| and |A∩B|/|B| in exact ppm, kept when either
    reaches ``CONTAIN_MIN_PPM``. Same candidate plan as
    ``dedup_ngram_jaccard`` (``_overlapping_pairs``), but the scoring is
    pure integer — no doubles anywhere."""
    return (
        _overlapping_pairs(_shingle_index_fresh(spark, sf_dir), "shingle")
        .select(
            "d1",
            "d2",
            F.col("shared").cast("bigint").alias("shared"),
            F.expr("shared * 1000000 div n1").alias("cont_1_ppm"),
            F.expr("shared * 1000000 div n2").alias("cont_2_ppm"),
        )
        .filter(
            (F.col("cont_1_ppm") >= CONTAIN_MIN_PPM)
            | (F.col("cont_2_ppm") >= CONTAIN_MIN_PPM)
        )
        .orderBy("d1", "d2")
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_clusters": dedup_clusters,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

_EMB_BAND_SQL = ", ".join(
    "("
    + " + ".join(
        f"(CASE WHEN embedding[{8 * b + i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(EMB_BAND_BITS)
    )
    + f") AS band{b}"
    for b in range(EMB_BANDS)
)
_EMB_UNION_SQL = " UNION ALL ".join(
    f"SELECT {b} AS t, band{b} AS bucket, vec_id FROM s" for b in range(EMB_BANDS)
)

# Shared CTE chain: shingle inverted index -> per-doc sizes -> shared-shingle
# pair counts (the exact-Jaccard building blocks, mirroring _shingle_index).
_JACCARD_CTES = f"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
        sh0 AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
                FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
                      FROM words)),
        sh_all AS (SELECT DISTINCT doc_id, shingle FROM sh0),
        kept AS (SELECT shingle FROM sh_all GROUP BY shingle
                 HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
        sh AS (SELECT sh_all.doc_id, sh_all.shingle
               FROM sh_all JOIN kept ON sh_all.shingle = kept.shingle),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)"""

ORACLES = {
    # Same deterministic sign-band blocking + bucket cap as the Spark side;
    # cosine = list_dot_product fold on DOUBLE[] (bit-matches Spark's
    # zip_with/aggregate fold — see similarity.py notes).
    "dedup_embedding_cosine": f"""
        WITH s AS (SELECT vec_id, {_EMB_BAND_SQL} FROM embeddings),
        u AS ({_EMB_UNION_SQL}),
        kept AS (SELECT t, bucket FROM u GROUP BY t, bucket HAVING COUNT(*) <= 64),
        ku AS (SELECT u.t, u.bucket, u.vec_id FROM u JOIN kept USING (t, bucket)),
        cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
                 FROM ku a JOIN ku b ON a.t = b.t AND a.bucket = b.bucket
                                    AND a.vec_id < b.vec_id),
        d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))) AS nn
              FROM embeddings)
        SELECT v1, v2,
               list_dot_product(x.v, y.v) / (x.nn * y.nn) AS cos_sim
        FROM cand JOIN d x ON x.vec_id = v1 JOIN d y ON y.vec_id = v2
        WHERE list_dot_product(x.v, y.v) / (x.nn * y.nn) >= {EMB_COSINE_THRESHOLD}
        ORDER BY v1, v2
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_doc_id
    """,
    # NOTE: the oracle applies the SAME MAX_SHINGLE_DF frequency cap the
    # Spark side does (kept CTE) so parity holds even on corpora where a
    # shingle is shared by >MAX_SHINGLE_DF docs.
    "dedup_containment": f"""
        WITH {_JACCARD_CTES}
        SELECT d1, d2, CAST(c AS BIGINT) AS shared,
               c * 1000000 // s1.n AS cont_1_ppm,
               c * 1000000 // s2.n AS cont_2_ppm
        FROM shared
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE c * 1000000 // s1.n >= {CONTAIN_MIN_PPM}
           OR c * 1000000 // s2.n >= {CONTAIN_MIN_PPM}
        ORDER BY d1, d2
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_JACCARD_CTES},
        scored AS (
            SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
            FROM shared
            JOIN sizes s1 ON d1 = s1.doc_id
            JOIN sizes s2 ON d2 = s2.doc_id
            WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.2),
        ends AS (
            SELECT d1 AS d, d2 AS p, jaccard FROM scored
            UNION ALL
            SELECT d2 AS d, d1 AS p, jaccard FROM scored),
        ranked AS (
            SELECT d, p, jaccard,
                   ROW_NUMBER() OVER (PARTITION BY d
                                      ORDER BY jaccard DESC, p) AS rn,
                   COUNT(*) OVER (PARTITION BY d)
                       > {MAX_PAIRS_PER_DOC} AS tr
            FROM ends),
        pairs AS (
            SELECT LEAST(d, p) AS d1, GREATEST(d, p) AS d2,
                   MIN(jaccard) AS jaccard,
                   MIN(rn) <= {MAX_PAIRS_PER_DOC} AS keep,
                   BOOL_OR(tr) AS truncated
            FROM ranked GROUP BY 1, 2)
        SELECT d1, d2, jaccard, truncated
        FROM pairs WHERE keep
        ORDER BY d1, d2
    """,
    # Connected components as a recursive transitive-closure CTE: reach(n, r)
    # = "r reaches n"; the component label is min(r). Closure is fine at
    # oracle scale (clusters are tiny); Spark's iterative label propagation
    # is the form that scales.
    "dedup_clusters": f"""
        WITH RECURSIVE {_JACCARD_CTES},
        scored AS (
            SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
            FROM shared
            JOIN sizes s1 ON d1 = s1.doc_id
            JOIN sizes s2 ON d2 = s2.doc_id
            WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.2),
        ends AS (
            SELECT d1 AS d, d2 AS p, jaccard FROM scored
            UNION ALL
            SELECT d2 AS d, d1 AS p, jaccard FROM scored),
        rankedp AS (
            SELECT d, p,
                   ROW_NUMBER() OVER (PARTITION BY d
                                      ORDER BY jaccard DESC, p) AS rn
            FROM ends),
        pairs AS (
            SELECT LEAST(d, p) AS d1, GREATEST(d, p) AS d2
            FROM rankedp GROUP BY 1, 2
            HAVING MIN(rn) <= {MAX_PAIRS_PER_DOC}),
        edges AS (SELECT d1, d2 FROM pairs
                  UNION ALL
                  SELECT d2 AS d1, d1 AS d2 FROM pairs),
        nodes AS (SELECT DISTINCT d1 AS node FROM edges),
        reach(node, r) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.d2 AS node, reach.r
            FROM reach JOIN edges e ON e.d1 = reach.node),
        labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node)
        SELECT label AS cluster_id,
               string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members,
               COUNT(*) AS size
        FROM labels
        GROUP BY label
        ORDER BY cluster_id
    """,
}


PREFIX_WORDS = 5  # template-identity opening-words key


def dedup_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-conflict audit over TEMPLATE duplicate groups —
    documents sharing their opening PREFIX_WORDS words (the
    boilerplate/template signal exact-hash dedup misses, and the one
    that exists at every fixture scale; exact-text groups only appear
    at sf0.1+). For each multi-member group: how many distinct langs
    and sources the members claim. A conflicting group means per-lang
    or per-source statistics depend on WHICH member a keep-best pass
    retains — what a curator must see before choosing the keep rule.

    One prefix-keyed shuffle (the dedup_exact shape); single-column
    count_distinct has no tuple-NULL divergence (the
    q_expectation_checks lesson only bites multi-column).
    """
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.col("text"), " "), 1, PREFIX_WORDS)
    )
    return (
        docs.groupBy(prefix.alias("prefix"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "prefix",
            "keep_doc_id",
            "n_members",
            "n_langs",
            "n_sources",
            ((F.col("n_langs") > 1) | (F.col("n_sources") > 1)).alias(
                "metadata_conflict"
            ),
        )
        .orderBy("keep_doc_id")
    )


QUERIES["dedup_conflict_audit"] = dedup_conflict_audit

ORACLES["dedup_conflict_audit"] = f"""
    SELECT array_to_string(string_split(text, ' ')[1:{PREFIX_WORDS}], ' ')
               AS prefix,
           MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           COUNT(DISTINCT lang) > 1 OR COUNT(DISTINCT source) > 1
               AS metadata_conflict
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) >= 2
    ORDER BY keep_doc_id
"""


def _sql_shingles(t: str) -> str:
    """DuckDB twin of ``_word_shingles``: temp table ``t`` of distinct
    ``(doc_id, s)`` word 3-grams."""
    return f"""CREATE OR REPLACE TEMP TABLE {t} AS
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - 2)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
              WHERE len(w) >= 3);"""


def _sql_overlap(p: str) -> str:
    """DuckDB twin of ``_candidate_overlap`` over the ``{p}_sh`` shingle
    and ``{p}_cand`` candidate tables: the ``sizes`` and ``shared`` CTEs
    (a pair without common shingles has no ``shared`` row)."""
    return f"""WITH sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM {p}_sh GROUP BY doc_id),
    shared AS (
        SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM {p}_cand c
        JOIN {p}_sh sa ON sa.doc_id = c.d1
        JOIN {p}_sh sb ON sb.doc_id = c.d2 AND sb.s = sa.s
        GROUP BY c.d1, c.d2)"""


def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with a FULL value-hash oracle
    (``PORTABLE_MINHASH_K`` comment): md5 signatures, 4 two-signature
    bands, deterministic bucket cap, exact shingle-Jaccard verify in ppm.

    Plan: one distinct-(doc, 3-gram) projection; signatures are 8 MIN
    aggregates in ONE map-side-combinable groupBy; banding explodes 4
    rows per doc; buckets cap at PORTABLE_BUCKET_CAP members by
    doc_id rank (the skew bound — a boilerplate band key contributes
    C(cap,2) pairs, never C(bucket,2)); candidates dedup across bands;
    the verify joins the candidate set back to the shingle index on
    the shingle key. No cartesian anywhere.
    """
    shingles = _word_shingles(load_table(spark, sf_dir, "documents"))
    bands = _md5_signatures(shingles).select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat(F.col(f"sig{2 * b}"), F.col(f"sig{2 * b + 1}"))
                    for b in range(PORTABLE_MINHASH_BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    capped = _cap_members(bands, ["band", "key"], "doc_id", PORTABLE_BUCKET_CAP)
    cand = _bucket_pairs(capped, ["band", "key"], "doc_id")
    return (
        _candidate_overlap(shingles, cand, "s")
        .select("d1", "d2", F.expr(_JACCARD_PPM).alias("jaccard_ppm"))
        .filter(F.col("jaccard_ppm") >= PORTABLE_JACCARD_PPM)
        .orderBy("d1", "d2")
    )


QUERIES["dedup_minhash_portable"] = dedup_minhash_portable

ORACLES["dedup_minhash_portable"] = f"""
    {_sql_shingles("pmh_sh")}
    CREATE OR REPLACE TEMP TABLE pmh_sig AS
        SELECT doc_id,
               {", ".join(f"MIN(md5('{k}:' || s)) AS sig{k}" for k in range(PORTABLE_MINHASH_K))}
        FROM pmh_sh GROUP BY doc_id;
    CREATE OR REPLACE TEMP TABLE pmh_capped AS
        SELECT doc_id, band, key FROM (
            SELECT doc_id, band, key,
                   ROW_NUMBER() OVER (PARTITION BY band, key
                                      ORDER BY doc_id) AS rn
            FROM (
                {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, sig{2*b} || sig{2*b+1} AS key FROM pmh_sig" for b in range(PORTABLE_MINHASH_BANDS))}
            ))
        WHERE rn <= {PORTABLE_BUCKET_CAP};
    CREATE OR REPLACE TEMP TABLE pmh_cand AS
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM pmh_capped a
        JOIN pmh_capped b
          ON b.band = a.band AND b.key = a.key AND a.doc_id < b.doc_id;
    {_sql_overlap("pmh")}
    SELECT sh.d1, sh.d2,
           CAST(CAST(sh.shared AS HUGEINT) * 1000000
                // (n1.n + n2.n - sh.shared) AS BIGINT) AS jaccard_ppm
    FROM shared sh
    JOIN sizes n1 ON n1.doc_id = sh.d1
    JOIN sizes n2 ON n2.doc_id = sh.d2
    WHERE CAST(sh.shared AS HUGEINT) * 1000000
          // (n1.n + n2.n - sh.shared) >= {PORTABLE_JACCARD_PPM}
    ORDER BY sh.d1, sh.d2
"""


# SimHash near-dup pairs with a full value-hash oracle (round 8c): the
# ENTIRE pipeline — fingerprints, banding, bucket capping, Hamming gate,
# exact verify — is value-hash-provable against the DuckDB twin, like
# dedup_minhash_portable. It is the only SimHash implementation,
# registered as both ``dedup_simhash`` and ``dedup_simhash_portable``:
# the xxhash64 variant it replaced had no oracle, no better recall, and
# measured slower in fresh-JVM A/B (tools/cold_ab.py at sf0.1 and sf1;
# numbers in ROADMAP.md).
SIMHASH2_BANDS = 4
SIMHASH2_BUCKET_CAP = 64
SIMHASH2_HAM_MAX = 6
SIMHASH2_JACCARD_PPM = 200_000


def dedup_simhash_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded 64-bit SimHash near-dup pairs, fully value-hash-proven.
    Output: pair, Hamming distance, exact Jaccard ppm.

    Construction (bit-identical cross-engine):

    - Per (doc, word): the term count (frequency-weighted votes) and the
      word's 64 hash bits, read as 16 md5 hex digits of 4 bits each
      (Spark ``conv(hex,16,10)`` == DuckDB
      ``strpos('0123456789abcdef', c) - 1``).
    - Vote j = sum over words count * (2*bit_j - 1); the fingerprint is
      the 64 vote signs ('0'/'1' string in the oracle, two packed 32-bit
      words here — see below).
    - Bands: 4 x 16-bit slices; buckets cap at SIMHASH2_BUCKET_CAP
      members by doc_id (``_cap_members``).
    - Gate: Hamming <= SIMHASH2_HAM_MAX over the 64 positions.
    - Verify: exact word-3-gram Jaccard >= SIMHASH2_JACCARD_PPM ppm (the
      minhash-portable contract, ``_candidate_overlap``).

    Scale notes (100 TB): votes are ONE map-side-combinable groupBy over
    the (doc, word) projection (32 sums wide, rows narrow); everything
    after works on doc-sized fingerprints and cap-bounded candidate
    pairs. No cartesian, no floats, no collect.
    """
    # fan_out: the word explode + per-word md5 + 64-sum partial agg all
    # fuse into the scan stage, which is ONE task at fixture scale
    # (round-14 probe: votes noop 2.66s serial -> 0.85s fanned, -68%).
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    words = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # Round 15 (VERDICT r14 #3 — full-pipeline packed votes): the r8c-r14
    # pipeline extracted 16 hex digits per word (16 conv+substring), ran
    # 64 per-bit vote SUMs, concatenated a 64-char '0'/'1' fingerprint
    # string through 64 CASE branches, and re-parsed it into the two
    # packed 32-bit halves — ~10s of one-time planning/codegen per fresh
    # JVM (cold first pass 12.9s vs 3.0s warm, measured r15). The packed
    # form computes the SAME w1/w2 words end-to-end:
    #
    # - per word: the 64 md5 bits as TWO 32-bit halves (hi = hex chars
    #   1-8, lo = chars 9-16); bit j (j//4 = hex char k, j%4 = bit s of
    #   that digit) is (hi >> (4*(7-k) + s)) & 1 for k <= 7, same on lo
    #   for k >= 8 — exactly conv(substring(md5(w), k+1, 1), 16, 10)'s
    #   bit s.
    # - votes: positive counts t_j = SUM(cnt * bit_j) packed TWO per
    #   64-bit lane word (t_{2p} << 32 | t_{2p+1} — 32 aggregate sums
    #   instead of 64) plus the doc word count W = SUM(cnt). The signed
    #   vote s_j = 2*t_j - W, so sign(s_j) >= 0 <=> 2*t_j >= W.
    #   Lane safety: each lane accumulates at most W < 2^31, so the low
    #   lane never carries and the packed sum stays under 2^63; W >= 2^31
    #   (a >=2 GiB single document — beyond a Spark string cell anyway)
    #   raises LOUDLY via the guard below instead of corrupting lanes
    #   (the r14 objection to 16-bit lanes).
    # - w1/w2: bit j of the fingerprint ('1' iff s_j >= 0) lands at
    #   position 31-j of w1 (j < 32) / 63-j of w2 — bit-identical to
    #   conv(substring(fp, 1|33, 32), 2, 10) over the string form (the
    #   DuckDB oracle keeps the string pipeline; pinned by
    #   tests/test_llm_ops.py::test_simhash_packed_votes_bit_equality).
    # - band keys: the 4 x 16-char fp substrings become the 4 x 16-bit
    #   integer slices of w1/w2 — same bucket partition, and the capping
    #   window orders by doc_id only, so buckets, capping, candidates and
    #   every surfaced value are unchanged.
    m16 = F.lit(0xFFFF)

    def _bit(j: int):
        k, s = j // 4, j % 4
        src = F.col("hi") if k <= 7 else F.col("lo")
        off = 4 * (7 - k) + s if k <= 7 else 4 * (15 - k) + s
        return F.shiftright(src, off).bitwiseAND(F.lit(1))

    digs = words.select(
        "doc_id",
        "cnt",
        F.expr("CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)").alias("hi"),
        F.expr("CAST(conv(substring(md5(w), 9, 8), 16, 10) AS BIGINT)").alias("lo"),
    )
    votes = digs.groupBy("doc_id").agg(
        F.sum("cnt").alias("W"),
        *[
            F.sum(
                F.shiftleft(F.col("cnt") * _bit(2 * p), 32)
                + F.col("cnt") * _bit(2 * p + 1)
            ).alias(f"t{p}")
            for p in range(32)
        ],
    )
    w_guarded = F.expr(
        "CASE WHEN W < 2147483648 THEN W ELSE"
        " CAST(raise_error('dedup_simhash_portable: packed vote lanes"
        " require < 2^31 words per document') AS BIGINT) END"
    )

    def _t(j: int):
        lane = F.col(f"t{j // 2}")
        return (
            F.shiftright(lane, 32)
            if j % 2 == 0
            else lane.bitwiseAND(F.lit(0xFFFFFFFF))
        )

    def _word(bits: range):
        # bit j contributes at position (31 - (j % 32)) of its word
        return sum(
            (
                F.shiftleft(
                    (2 * _t(j) >= F.col("Wg")).cast("bigint"),
                    31 - (j % 32),
                )
                for j in bits
            ),
            F.lit(0).cast("bigint"),
        )

    fp = votes.withColumn("Wg", w_guarded).select(
        "doc_id",
        _word(range(0, 32)).alias("w1"),
        _word(range(32, 64)).alias("w2"),
    )
    bands = fp.select(
        "doc_id",
        "w1",
        "w2",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(
                            F.col("w1") if b < 2 else F.col("w2"),
                            16 * (1 - b % 2),
                        )
                        .bitwiseAND(m16)
                        .alias("key"),
                    )
                    for b in range(SIMHASH2_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", "w1", "w2", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    capped = _cap_members(bands, ["band", "key"], "doc_id", SIMHASH2_BUCKET_CAP)
    hamming = F.expr("bit_count(w1_1 ^ w1_2) + bit_count(w2_1 ^ w2_2)")
    # Row-local C(k,2) pair explode over the CAPPED buckets (<= 64
    # members by construction — the r9e idiom's win condition, re-landed
    # round 10): the cap's row_number window already shuffled on
    # (band, key), so the groupBy reuses that partitioning and the pair
    # generation runs inside codegen — replacing a (band, key) self-join
    # that shuffled the banded fingerprints twice (A/B at sf0.1 warm:
    # 10.05 -> 7.99s, BENCH_NOTES round-10b). The fingerprint rides as
    # pair payload; the DuckDB oracle keeps its self-join formulation
    # (the contract is on VALUES; the hash self-join is DuckDB's fast
    # plan).
    pairs = _bucket_pairs(
        capped, ["band", "key"], "doc_id", payload_cols=("w1", "w2")
    )
    # cand feeds three consumers below (the candidate-doc semi list +
    # the shared join + the final rejoin) and its lineage is the whole
    # LSH half — checkpoint once; it is cap-bounded pairs, tiny.
    cand = (
        pairs
        .withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= SIMHASH2_HAM_MAX)
        .select("d1", "d2", "hamming")
        .localCheckpoint()
    )
    # Round 14 (guide §2.3/§3.2 — shuffle fewer bytes, semi-join
    # pre-filter): shingles are generated ONLY for docs appearing in a
    # candidate pair. Every verify consumer is inner-joined to cand's
    # d1/d2, so restricting the generation to candidate docs is
    # value-identical — previously the 3-gram explode + distinct + eager
    # checkpoint ran over the WHOLE corpus for a cap-bounded handful of
    # pairs.
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    shingles = _word_shingles(docs.join(cand_docs, "doc_id", "left_semi"))
    return (
        _candidate_overlap(shingles, cand, "s")
        .select("d1", "d2", "hamming", F.expr(_JACCARD_PPM).alias("jaccard_ppm"))
        .filter(F.col("jaccard_ppm") >= SIMHASH2_JACCARD_PPM)
        .orderBy("d1", "d2")
    )


QUERIES["dedup_simhash"] = dedup_simhash_portable
QUERIES["dedup_simhash_portable"] = dedup_simhash_portable



def _simhash2_oracle() -> str:
    vote_cols = ", ".join(
        f"SUM(cnt * (2 * ((v{j // 4} >> {j % 4}) & 1) - 1)) AS s{j}"
        for j in range(64)
    )
    fp_concat = " || ".join(
        f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(64)
    )
    dig_cols = ", ".join(
        f"strpos('0123456789abcdef', substr(md5(w), {k + 1}, 1)) - 1"
        f" AS v{k}"
        for k in range(16)
    )
    ham = " + ".join(
        f"CASE WHEN substr(a.fp, {j + 1}, 1) != substr(b.fp, {j + 1}, 1)"
        " THEN 1 ELSE 0 END"
        for j in range(64)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, fp, {b} AS band,"
        f" substr(fp, {16 * b + 1}, 16) AS key FROM psh_fp"
        for b in range(SIMHASH2_BANDS)
    )
    return f"""
    CREATE OR REPLACE TEMP TABLE psh_words AS
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w;
    CREATE OR REPLACE TEMP TABLE psh_digs AS
        SELECT doc_id, cnt, {dig_cols}
        FROM psh_words;
    CREATE OR REPLACE TEMP TABLE psh_votes AS
        SELECT doc_id, {vote_cols}
        FROM psh_digs GROUP BY doc_id;
    CREATE OR REPLACE TEMP TABLE psh_fp AS
        SELECT doc_id, {fp_concat} AS fp FROM psh_votes;
    CREATE OR REPLACE TEMP TABLE psh_capped AS
        SELECT doc_id, fp, band, key FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY band, key
                                         ORDER BY doc_id) AS rn
            FROM ({band_union}))
        WHERE rn <= {SIMHASH2_BUCKET_CAP};
    CREATE OR REPLACE TEMP TABLE psh_cand AS
        SELECT d1, d2, CAST(hamming AS BIGINT) AS hamming FROM (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                   a.fp, b.fp AS fp2, {ham} AS hamming
            FROM psh_capped a
            JOIN psh_capped b
              ON b.band = a.band AND b.key = a.key
             AND a.doc_id < b.doc_id)
        WHERE hamming <= {SIMHASH2_HAM_MAX};
    {_sql_shingles("psh_sh")}
    {_sql_overlap("psh")}
    SELECT c.d1, c.d2, c.hamming,
           CAST(CAST(COALESCE(sh.shared, 0) AS HUGEINT) * 1000000
                // (n1.n + n2.n - COALESCE(sh.shared, 0)) AS BIGINT)
               AS jaccard_ppm
    FROM psh_cand c
    LEFT JOIN shared sh ON sh.d1 = c.d1 AND sh.d2 = c.d2
    JOIN sizes n1 ON n1.doc_id = c.d1
    JOIN sizes n2 ON n2.doc_id = c.d2
    WHERE CAST(COALESCE(sh.shared, 0) AS HUGEINT) * 1000000
          // (n1.n + n2.n - COALESCE(sh.shared, 0))
          >= {SIMHASH2_JACCARD_PPM}
    ORDER BY c.d1, c.d2
"""


ORACLES["dedup_simhash_portable"] = _simhash2_oracle()
ORACLES["dedup_simhash"] = ORACLES["dedup_simhash_portable"]


def dedup_minhash_estimator_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash ESTIMATOR-QUALITY audit: for the portable pipeline's
    candidate pairs, the signature-agreement estimate (matching
    signatures / K — the statistic LSH actually thresholds on at
    scale) side-by-side with the exact shingle Jaccard, and their
    signed error — all integral (match counts and ppm ratios), so the
    estimator's bias/variance on THIS corpus is a value-hash-checked
    artifact rather than folklore. The decision every LSH deployment
    owes its curator: how wrong is K=8 here?
    """
    shingles = _word_shingles(load_table(spark, sf_dir, "documents"))
    sig_cols = [F.col(f"sig{k}") for k in range(PORTABLE_MINHASH_K)]
    bands = _md5_signatures(shingles).select(
        "doc_id",
        *sig_cols,
        F.explode(
            F.array(
                *[
                    F.concat(sig_cols[2 * b], sig_cols[2 * b + 1])
                    for b in range(PORTABLE_MINHASH_BANDS)
                ]
            )
        ).alias("key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    matches = sum(
        (F.col(f"a.sig{k}") == F.col(f"b.sig{k}")).cast("int")
        for k in range(PORTABLE_MINHASH_K)
    )
    cand = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            matches.cast("bigint").alias("sig_matches"),
        )
        .distinct()
    )
    return (
        _candidate_overlap(shingles, cand, "s")
        .select(
            "d1",
            "d2",
            "sig_matches",
            F.expr(
                f"sig_matches * 1000000 div {PORTABLE_MINHASH_K}"
            ).alias("estimate_ppm"),
            F.expr(_JACCARD_PPM).alias("exact_ppm"),
        )
        .withColumn("error_ppm", F.col("estimate_ppm") - F.col("exact_ppm"))
        .orderBy("d1", "d2")
    )


QUERIES["dedup_minhash_estimator_audit"] = dedup_minhash_estimator_audit


def _estimator_oracle() -> str:
    sig_cols = ", ".join(
        f"MIN(md5('{k}:' || s)) AS sig{k}"
        for k in range(PORTABLE_MINHASH_K)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {', '.join(f'sig{k}' for k in range(PORTABLE_MINHASH_K))},"
        f" sig{2*b} || sig{2*b+1} AS key FROM est_sig"
        for b in range(PORTABLE_MINHASH_BANDS)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.sig{k} = b.sig{k} THEN 1 ELSE 0 END"
        for k in range(PORTABLE_MINHASH_K)
    )
    return f"""
    {_sql_shingles("est_sh")}
    CREATE OR REPLACE TEMP TABLE est_sig AS
        SELECT doc_id, {sig_cols}
        FROM est_sh GROUP BY doc_id;
    CREATE OR REPLACE TEMP TABLE est_bands AS
        {band_union};
    CREATE OR REPLACE TEMP TABLE est_cand AS
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
               CAST({match_sum} AS BIGINT) AS sig_matches
        FROM est_bands a
        JOIN est_bands b
          ON b.key = a.key AND a.doc_id < b.doc_id;
    {_sql_overlap("est")},
    scored AS (
        SELECT c.d1, c.d2, c.sig_matches,
               c.sig_matches * 1000000 // {PORTABLE_MINHASH_K}
                   AS estimate_ppm,
               CAST(CAST(COALESCE(sh.shared, 0) AS HUGEINT) * 1000000
                    // (n1.n + n2.n - COALESCE(sh.shared, 0)) AS BIGINT)
                   AS exact_ppm
        FROM est_cand c
        LEFT JOIN shared sh ON sh.d1 = c.d1 AND sh.d2 = c.d2
        JOIN sizes n1 ON n1.doc_id = c.d1
        JOIN sizes n2 ON n2.doc_id = c.d2)
    SELECT d1, d2, sig_matches, estimate_ppm, exact_ppm,
           estimate_ppm - exact_ppm AS error_ppm
    FROM scored
    ORDER BY d1, d2
"""


ORACLES["dedup_minhash_estimator_audit"] = _estimator_oracle()


# Threshold sweep grid (ppm) for the dedup ROC: how many pairs (and
# docs) each candidate Jaccard cutoff would merge.
DEDUP_SWEEP_PPM = (100_000, 200_000, 300_000, 400_000, 500_000)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-selection evidence for near-dup cleanup: for each
    candidate Jaccard cutoff, the number of 3-gram near-dup pairs at
    or above it and the number of distinct documents those pairs
    touch — the dedup analog of the PR sweep, ONE pass over the exact
    pair scores (every threshold is a conditional sum over the same
    relation, so adding thresholds widens the aggregate, not the
    passes). Pairs come from the same inverted-index self-join as
    ``dedup_ngram_jaccard`` (``_overlapping_pairs`` over the string
    shingles) with the shared-shingle >= 1 floor.
    """
    shingles = _word_shingles(load_table(spark, sf_dir, "documents"))
    scored = (
        _overlapping_pairs(shingles, "s")
        .select("d1", "d2", F.expr(_JACCARD_PPM).alias("j_ppm"))
        .localCheckpoint()  # one pair relation feeds every threshold
    )
    # each threshold reads the SAME checkpointed pair relation
    out = None
    for t in DEDUP_SWEEP_PPM:
        hit = scored.filter(F.col("j_ppm") >= t)
        docs_touched = (
            hit.select(F.explode(F.array("d1", "d2")).alias("d"))
            .agg(F.count_distinct("d").cast("bigint").alias("n_docs"))
        )
        pairs = hit.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs")
        )
        row = (
            pairs.crossJoin(docs_touched)
            .select(
                F.lit(t).cast("bigint").alias("threshold_ppm"),
                "n_pairs",
                "n_docs",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("threshold_ppm")


QUERIES["dedup_threshold_sweep"] = dedup_threshold_sweep

ORACLES["dedup_threshold_sweep"] = f"""
    {_sql_shingles("sw_sh")}
    CREATE OR REPLACE TEMP TABLE sw_scored AS
        WITH sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM sw_sh GROUP BY doc_id),
        shared AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM sw_sh a JOIN sw_sh b
              ON b.s = a.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT sh.d1, sh.d2,
               CAST(CAST(sh.shared AS HUGEINT) * 1000000
                    // (n1.n + n2.n - sh.shared) AS BIGINT) AS j_ppm
        FROM shared sh
        JOIN sizes n1 ON n1.doc_id = sh.d1
        JOIN sizes n2 ON n2.doc_id = sh.d2;
    {" UNION ALL ".join(
        f'''SELECT CAST({t} AS BIGINT) AS threshold_ppm,
               CAST((SELECT COUNT(*) FROM sw_scored WHERE j_ppm >= {t})
                    AS BIGINT) AS n_pairs,
               CAST((SELECT COUNT(DISTINCT d) FROM (
                       SELECT d1 AS d FROM sw_scored WHERE j_ppm >= {t}
                       UNION ALL
                       SELECT d2 FROM sw_scored WHERE j_ppm >= {t}))
                    AS BIGINT) AS n_docs'''
        for t in DEDUP_SWEEP_PPM
    )}
    ORDER BY threshold_ppm
"""
