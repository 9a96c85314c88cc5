"""SimHash near-dup pairs with a full value-hash oracle (round 8c).

The ENTIRE pipeline — fingerprints, banding, bucket capping, Hamming
gate, exact verify — is value-hash-provable against the DuckDB twin,
like ``dedup.dedup_minhash_portable``. It is the only SimHash
implementation, registered as both ``dedup_simhash`` and
``dedup_simhash_portable``: the xxhash64 variant it replaced had no
oracle, no better recall, and measured slower in fresh-JVM A/B
(tools/cold_ab.py at sf0.1 and sf1; numbers in ROADMAP.md).

Construction (bit-identical cross-engine):

- Per (doc, word): the term count (frequency-weighted votes) and the
  word's 64 hash bits, read as 16 md5 hex digits of 4 bits each
  (Spark ``conv(hex,16,10)`` == DuckDB
  ``strpos('0123456789abcdef', c) - 1`` — pinned by the span-plan
  lottery precedent).
- Vote j = sum over words count * (2*bit_j - 1); fingerprint = the
  64-char '0'/'1' string of vote signs (a string, not a long — no
  sign-bit games, and band keys are plain substrings).
- Bands: 4 x 16-char substrings; buckets cap at SIMHASH2_BUCKET_CAP
  members by doc_id (deterministic C(cap,2) pair bound).
- Gate: Hamming <= SIMHASH2_HAM_MAX over the 64 positions (an
  unrolled 64-term comparison — generated SQL, identical on both
  engines).
- Verify: exact word-3-gram Jaccard >= SIMHASH2_JACCARD_PPM ppm (the
  minhash-portable contract).

Scale notes (100 TB): votes are ONE map-side-combinable groupBy over
the (doc, word) projection (64 sums wide, rows narrow); everything
after works on doc-sized fingerprints and cap-bounded candidate
pairs. No cartesian, no floats, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..io import fan_out, load_table, ngram_explode

SIMHASH2_BANDS = 4
SIMHASH2_BUCKET_CAP = 64
SIMHASH2_HAM_MAX = 6
SIMHASH2_JACCARD_PPM = 200_000


def dedup_simhash_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded 64-bit SimHash near-dup pairs, fully value-hash-proven
    (module doc). Output: pair, Hamming distance, exact Jaccard ppm."""
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
    capped = (
        bands.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("band", "key").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") <= SIMHASH2_BUCKET_CAP)
        .drop("rn")
    )
    hamming = F.expr("bit_count(w1_1 ^ w1_2) + bit_count(w2_1 ^ w2_2)")
    # Row-local C(k,2) pair explode over the CAPPED buckets (<= 64
    # members by construction — the r9e idiom's win condition, re-landed
    # round 10): the cap's row_number window already shuffled on
    # (band, key), so the groupBy reuses that partitioning and the pair
    # generation runs inside codegen — replacing a (band, key) self-join
    # that shuffled the banded fingerprints twice (A/B at sf0.1 warm:
    # 10.05 -> 7.99s, BENCH_NOTES round-10b). Shared dedup._bucket_pairs
    # with the fingerprint as pair payload; the DuckDB oracle keeps its
    # self-join formulation (the contract is on VALUES; the hash
    # self-join is DuckDB's fast plan).
    from .dedup import _bucket_pairs

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
    # exact 3-gram jaccard verify (the minhash-portable contract).
    # Round 14 (guide §2.3/§3.2 — shuffle fewer bytes, semi-join
    # pre-filter): shingles are generated ONLY for docs appearing in a
    # candidate pair. The verify consumers (sizes, both join sides) are
    # all inner-joined to cand's d1/d2, so restricting the generation to
    # candidate docs is value-identical — previously the 3-gram explode +
    # distinct + eager checkpoint ran over the WHOLE corpus and the
    # (d2, s) join shuffled the full shingle relation, for a
    # cap-bounded handful of pairs.
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    ws = docs.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    shingles = (
        ngram_explode(ws, "ws", 3, "s", "doc_id")
        .distinct()
        .localCheckpoint()
    )
    sizes = shingles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    sa = shingles.select(F.col("doc_id").alias("d1"), "s")
    sb = shingles.select(F.col("doc_id").alias("d2"), "s")
    shared = (
        cand.join(sa, "d1")
        .join(sb, ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        cand.join(shared, ["d1", "d2"], "left")
        .join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "hamming",
            F.expr(
                "CAST(COALESCE(shared, 0) * 1000000"
                " div (n1 + n2 - COALESCE(shared, 0)) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= SIMHASH2_JACCARD_PPM)
        .orderBy("d1", "d2")
    )


QUERIES = {
    "dedup_simhash": dedup_simhash_portable,
    "dedup_simhash_portable": dedup_simhash_portable,
}


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
    CREATE OR REPLACE TEMP TABLE psh_sh AS
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - 2)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
              WHERE len(w) >= 3);
    WITH sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM psh_sh GROUP BY doc_id),
    shared AS (
        SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM psh_cand c
        JOIN psh_sh sa ON sa.doc_id = c.d1
        JOIN psh_sh sb ON sb.doc_id = c.d2 AND sb.s = sa.s
        GROUP BY c.d1, c.d2)
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


ORACLES = {"dedup_simhash_portable": _simhash2_oracle()}
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
    from .dedup import (
        PORTABLE_MINHASH_BANDS,
        PORTABLE_MINHASH_K,
        dedup_minhash_portable,  # noqa: F401 — shared constants' home
    )
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    shingles = (
        ngram_explode(ws, "ws", 3, "s", "doc_id")
        .distinct()
        .localCheckpoint()
    )
    sigs = shingles.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("s")))).alias(
                f"sig{k}"
            )
            for k in range(PORTABLE_MINHASH_K)
        ]
    )
    bands = sigs.select(
        "doc_id",
        *[F.col(f"sig{k}") for k in range(PORTABLE_MINHASH_K)],
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.col(f"sig{2 * b}"), F.col(f"sig{2 * b + 1}")
                    )
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
    sizes = shingles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    sa = shingles.select(F.col("doc_id").alias("d1"), "s")
    sb = shingles.select(F.col("doc_id").alias("d2"), "s")
    shared = (
        cand.join(sa, "d1")
        .join(sb, ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        cand.join(shared, ["d1", "d2"], "left")
        .join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "sig_matches",
            F.expr(
                f"sig_matches * 1000000 div {PORTABLE_MINHASH_K}"
            ).alias("estimate_ppm"),
            F.expr(
                "CAST(COALESCE(shared, 0) * 1000000"
                " div (n1 + n2 - COALESCE(shared, 0)) AS BIGINT)"
            ).alias("exact_ppm"),
        )
        .select(
            "*",
            (F.col("estimate_ppm") - F.col("exact_ppm")).alias(
                "error_ppm"
            ),
        )
        .orderBy("d1", "d2")
    )


QUERIES["dedup_minhash_estimator_audit"] = dedup_minhash_estimator_audit


def _estimator_oracle() -> str:
    from .dedup import PORTABLE_MINHASH_BANDS, PORTABLE_MINHASH_K

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
    CREATE OR REPLACE TEMP TABLE est_sh AS
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - 2)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
              WHERE len(w) >= 3);
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
    WITH sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM est_sh GROUP BY doc_id),
    shared AS (
        SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM est_cand c
        JOIN est_sh sa ON sa.doc_id = c.d1
        JOIN est_sh sb ON sb.doc_id = c.d2 AND sb.s = sa.s
        GROUP BY c.d1, c.d2),
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
    ``dedup.dedup_ngram_jaccard`` with the shared-shingle >= 1 floor.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    shingles = (
        ngram_explode(ws, "ws", 3, "s", "doc_id")
        .distinct()
        .localCheckpoint()
    )
    sizes = shingles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = shingles.alias("a")
    b = shingles.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    s1 = F.broadcast(
        sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    )
    s2 = F.broadcast(
        sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    )
    scored = (
        shared.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            F.expr(
                "CAST(shared * 1000000 div (n1 + n2 - shared) AS BIGINT)"
            ).alias("j_ppm"),
        )
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
    CREATE OR REPLACE TEMP TABLE sw_sh AS
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - 2)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
              WHERE len(w) >= 3);
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
