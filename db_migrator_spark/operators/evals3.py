"""Correlation-grade evaluation metrics (round 8c).

The reference has no evaluation surface (scope:
/root/reference/src/migrate/table_migrator.rs:43-114); these extend
the eval family (confusion, PR sweep, ROC AUC, kappa, Brier, F1) with
the two metrics a model-quality dashboard asks for next, both exact:

- ``eval_mcc``: one-vs-rest Matthews correlation per labeled language
  over the lang-id predictions. MCC hides a square root, surfaced
  exactly in milli units: mcc_milli = sign(num) * isqrt(num^2 * 1e6
  div den) where num = tp*tn - fp*fn and den = (tp+fp)(tp+fn)(tn+fp)
  (tn+fn). The division happens in DECIMAL(38,0) (den reaches ~5e24
  at sf1), its quotient is <= 1e6 so the adjusted integer sqrt
  (``corpus5._isqrt``) runs on a small bigint — exact at any corpus
  size until num^2 * 1e6 passes DECIMAL(38,0) (~n of 1e8 per class;
  past that drop to 1e4 scale, documented). den = 0 (a degenerate
  class) surfaces 0 by convention.
- ``eval_spearman_rank``: per-language Spearman rho between document
  length (n_chars) and whitespace word count. Ranks are row_number
  over the DETERMINISTIC total order (value, doc_id) — the documented
  tiebreak contract (identical on both engines, no average-rank
  fractions), then the d^2 identity rho = 1 - 6*sum(d^2)/(n(n^2-1))
  in exact ppm on the decimal-div contract. Languages with n < 2
  surface rho_ppm = 1e6 (a single point is perfectly concordant with
  itself — documented convention, never hit by the fixtures).

Scale notes (100 TB): MCC reduces the prediction stream to a
languages-x-languages cell matrix (one map-side-combined groupBy),
then works at matrix size — margins are two tiny aggs joined back.
Spearman is two keyed rank windows over (lang) partitions plus one
groupBy — no global window, no collect; the per-language partition is
the natural parallel unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..io import load_table
from .corpus5 import _isqrt
from .evals import _LANGID_SQL
from .text import text_language_id


def eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language one-vs-rest Matthews correlation (exact milli) over
    the lang-id predictions (module doc)."""
    preds = text_language_id(spark, sf_dir).select(
        "labeled_lang", "predicted_lang"
    )
    cells = preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rows_m = cells.groupBy("labeled_lang").agg(
        F.sum("n").cast("bigint").alias("row_n")
    )
    cols_m = (
        cells.groupBy("predicted_lang")
        .agg(F.sum("n").cast("bigint").alias("col_n"))
        .withColumnRenamed("predicted_lang", "labeled_lang")
    )
    diag = cells.filter(
        F.col("labeled_lang") == F.col("predicted_lang")
    ).select("labeled_lang", F.col("n").alias("tp"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("total"))
    base = (
        rows_m.join(cols_m, "labeled_lang", "left")
        .join(diag, "labeled_lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "labeled_lang",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            (F.coalesce("col_n", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fp"),
            (F.col("row_n") - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fn"),
            (
                F.col("total")
                - F.col("row_n")
                - F.coalesce("col_n", F.lit(0))
                + F.coalesce("tp", F.lit(0))
            )
            .cast("bigint")
            .alias("tn"),
        )
    )
    num = F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")
    scored = base.select(
        "*",
        num.alias("num"),
        F.expr(
            "CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)"
            " * (tn + fp) * (tn + fn)"
        ).alias("den"),
    )
    mcc_abs = _isqrt(
        F.expr(
            "CAST(CAST(num AS DECIMAL(38,0)) * num * 1000000 div den"
            " AS BIGINT)"
        )
    )
    return (
        scored.select(
            "labeled_lang",
            "tp",
            "fp",
            "fn",
            "tn",
            F.when(F.col("den") == 0, F.lit(0))
            .otherwise(
                F.when(F.col("num") < 0, -mcc_abs).otherwise(mcc_abs)
            )
            .cast("bigint")
            .alias("mcc_milli"),
        )
        .orderBy("labeled_lang")
    )


def eval_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Spearman rho (exact ppm, deterministic-tiebreak
    ranks) between n_chars and word count (module doc). Both ranks come
    from the keyed distributed exact-rank pattern (round 10: language
    partitions are docs/|langs| — linear, so the lang-keyed rank
    windows were a |langs|-way parallelism ceiling); one stacked pass
    (``with_global_ranks``) ranks both orderings."""
    from .distributed_rank import with_global_ranks

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "doc_id",
        F.col("n_chars").alias("x"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("y"),
        # narrow doc-grain projection feeds the quantile action, the
        # rank's bin counts and the final plan; checkpointing it runs
        # the text tokenization ONCE instead of once per consumer (r11).
    ).localCheckpoint(eager=False)
    # Both orderings rank the same doc relation: one stacked pass.
    two_ranked = with_global_ranks(
        base,
        [("x", False, "__rx", "__nx"), ("y", False, "__ry", "__ny")],
        ["doc_id"],
        partition_by=["lang"],
    )
    ranked = two_ranked.select(
        "lang", (F.col("__rx") - F.col("__ry")).cast("bigint").alias("d")
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sum_d2"),
        )
        .select(
            "lang",
            "n",
            "sum_d2",
            F.when(F.col("n") < 2, F.lit(1_000_000))
            .otherwise(
                F.expr(
                    "1000000 - CAST(CAST(6 AS DECIMAL(38,0)) * sum_d2"
                    " * 1000000 div (n * (n * n - 1)) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("rho_ppm"),
        )
        .orderBy("lang")
    )


QUERIES = {
    "eval_mcc": eval_mcc,
    "eval_spearman_rank": eval_spearman_rank,
}

ORACLES = {
    # _isqrt's three-branch CASE transliterated (corpus5 precedent).
    "eval_mcc": f"""
        {_LANGID_SQL},
        cells AS (
            SELECT labeled_lang, predicted_lang,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM preds GROUP BY 1, 2),
        rm AS (SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS row_n
               FROM cells GROUP BY 1),
        cm AS (SELECT predicted_lang AS labeled_lang,
                      CAST(SUM(n) AS BIGINT) AS col_n
               FROM cells GROUP BY 1),
        dg AS (SELECT labeled_lang, n AS tp FROM cells
               WHERE labeled_lang = predicted_lang),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells),
        base2 AS (
            SELECT rm.labeled_lang,
                   COALESCE(dg.tp, 0) AS tp,
                   COALESCE(cm.col_n, 0) - COALESCE(dg.tp, 0) AS fp,
                   rm.row_n - COALESCE(dg.tp, 0) AS fn,
                   t.total - rm.row_n - COALESCE(cm.col_n, 0)
                       + COALESCE(dg.tp, 0) AS tn
            FROM rm
            LEFT JOIN cm ON cm.labeled_lang = rm.labeled_lang
            LEFT JOIN dg ON dg.labeled_lang = rm.labeled_lang, t),
        ovr AS (
            SELECT *, tp * tn - fp * fn AS num,
                   CAST(tp + fp AS HUGEINT) * (tp + fn)
                       * (tn + fp) * (tn + fn) AS den
            FROM base2),
        q AS (
            SELECT *, CASE WHEN den = 0 THEN 0
                           ELSE CAST(CAST(num AS HUGEINT) * num * 1000000
                                     // den AS BIGINT) END AS m2
            FROM ovr),
        sq AS (
            SELECT *, CAST(FLOOR(SQRT(CAST(m2 AS DOUBLE))) AS BIGINT) AS s
            FROM q),
        adj AS (
            SELECT *, CASE WHEN (s + 1) * (s + 1) <= m2 THEN s + 1
                           WHEN s * s > m2 THEN s - 1
                           ELSE s END AS mcc_abs
            FROM sq)
        SELECT labeled_lang, tp, fp, fn, tn,
               CAST(CASE WHEN den = 0 THEN 0
                         WHEN num < 0 THEN -mcc_abs
                         ELSE mcc_abs END AS BIGINT) AS mcc_milli
        FROM adj
        ORDER BY labeled_lang
    """,
    "eval_spearman_rank": """
        WITH base AS (
            SELECT lang, doc_id, n_chars AS x,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS y
            FROM documents),
        ranked AS (
            SELECT lang,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                           ORDER BY x, doc_id)
                        - ROW_NUMBER() OVER (PARTITION BY lang
                                             ORDER BY y, doc_id)
                        AS BIGINT) AS d
            FROM base),
        agg AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(d * d) AS BIGINT) AS sum_d2
            FROM ranked GROUP BY lang)
        SELECT lang, n, sum_d2,
               CAST(CASE WHEN n < 2 THEN 1000000
                         ELSE 1000000 - CAST(6 AS HUGEINT) * sum_d2
                              * 1000000 // (n * (n * n - 1)) END
                    AS BIGINT) AS rho_ppm
        FROM agg
        ORDER BY lang
    """,
}


# Kendall tau-b rides the CELL-COMPRESSED pair count: documents with
# equal (x, y) collapse into contingency cells first, so the pair join
# runs over the distinct value support (bounded for length-like
# metrics), never over raw row pairs — n^2 becomes cells^2. For
# unbounded-domain metrics, pre-bucket the values before calling (the
# cells are the contract, not the raw rows).
def eval_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Kendall tau-b (exact milli) between n_chars and
    word count via cell-compressed concordant/discordant counting.

    C = sum over cell pairs with x_a < x_b AND y_a < y_b of c_a*c_b
    (each unordered concordant pair counted exactly once), D the same
    with y_a > y_b; tie corrections n1/n2 from the x/y margins; tau_b
    = (C - D) / sqrt((n0 - n1)(n0 - n2)) surfaced as sign * isqrt of
    the micro-scaled quotient (den = 0 -> 0 by convention).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("y"),
    )
    cells = base.groupBy("lang", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = cells.alias("a")
    b = cells.alias("b")
    cd = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.x") < F.col("b.x")),
        )
        .groupBy(F.col("a.lang").alias("lang"))
        .agg(
            F.sum(
                F.when(
                    F.col("a.y") < F.col("b.y"),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("concordant"),
            F.sum(
                F.when(
                    F.col("a.y") > F.col("b.y"),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("discordant"),
        )
    )
    margins = cells.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    xm = (
        cells.groupBy("lang", "x")
        .agg(F.sum("c").alias("t"))
        .groupBy("lang")
        .agg(
            F.sum(F.expr("t * (t - 1) div 2")).cast("bigint").alias("n1")
        )
    )
    ym = (
        cells.groupBy("lang", "y")
        .agg(F.sum("c").alias("t"))
        .groupBy("lang")
        .agg(
            F.sum(F.expr("t * (t - 1) div 2")).cast("bigint").alias("n2")
        )
    )
    joined = (
        cd.join(margins, "lang")
        .join(xm, "lang")
        .join(ym, "lang")
        .select(
            "lang",
            "n",
            "concordant",
            "discordant",
            "n1",
            "n2",
            F.expr("n * (n - 1) div 2").alias("n0"),
        )
    )
    tau_abs = _isqrt(
        F.expr(
            "CAST(CAST(concordant - discordant AS DECIMAL(38,0))"
            " * (concordant - discordant) * 1000000"
            " div (CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n2))"
            " AS BIGINT)"
        )
    )
    return (
        joined.select(
            "lang",
            "n",
            "concordant",
            "discordant",
            "n1",
            "n2",
            F.when(
                (F.col("n0") == F.col("n1"))
                | (F.col("n0") == F.col("n2")),
                F.lit(0),
            )
            .otherwise(
                F.when(
                    F.col("concordant") < F.col("discordant"), -tau_abs
                ).otherwise(tau_abs)
            )
            .cast("bigint")
            .alias("tau_b_milli"),
        )
        .orderBy("lang")
    )


QUERIES["eval_kendall_tau"] = eval_kendall_tau

ORACLES["eval_kendall_tau"] = """
    WITH base AS (
        SELECT lang, n_chars AS x,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS y
        FROM documents),
    cells AS (
        SELECT lang, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2, 3),
    cd AS (
        SELECT a.lang,
               CAST(COALESCE(SUM(CASE WHEN a.y < b.y
                                      THEN a.c * b.c ELSE 0 END), 0)
                    AS BIGINT) AS concordant,
               CAST(COALESCE(SUM(CASE WHEN a.y > b.y
                                      THEN a.c * b.c ELSE 0 END), 0)
                    AS BIGINT) AS discordant
        FROM cells a JOIN cells b
          ON b.lang = a.lang AND a.x < b.x
        GROUP BY a.lang),
    margins AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n
        FROM cells GROUP BY lang),
    xm AS (
        SELECT lang, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1
        FROM (SELECT lang, x, SUM(c) AS t FROM cells GROUP BY 1, 2)
        GROUP BY lang),
    ym AS (
        SELECT lang, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
        FROM (SELECT lang, y, SUM(c) AS t FROM cells GROUP BY 1, 2)
        GROUP BY lang),
    j AS (
        SELECT cd.lang, m.n, cd.concordant, cd.discordant, xm.n1, ym.n2,
               m.n * (m.n - 1) // 2 AS n0
        FROM cd JOIN margins m ON m.lang = cd.lang
        JOIN xm ON xm.lang = cd.lang
        JOIN ym ON ym.lang = cd.lang),
    q AS (
        SELECT *, CASE WHEN n0 = n1 OR n0 = n2 THEN 0
                       ELSE CAST(CAST(concordant - discordant AS HUGEINT)
                                 * (concordant - discordant) * 1000000
                                 // (CAST(n0 - n1 AS HUGEINT) * (n0 - n2))
                                 AS BIGINT) END AS m2
        FROM j),
    sq AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(m2 AS DOUBLE))) AS BIGINT) AS s
        FROM q),
    adj AS (
        SELECT *, CASE WHEN (s + 1) * (s + 1) <= m2 THEN s + 1
                       WHEN s * s > m2 THEN s - 1
                       ELSE s END AS tau_abs
        FROM sq)
    SELECT lang, n, concordant, discordant, n1, n2,
           CAST(CASE WHEN n0 = n1 OR n0 = n2 THEN 0
                     WHEN concordant < discordant THEN -tau_abs
                     ELSE tau_abs END AS BIGINT) AS tau_b_milli
    FROM adj
    ORDER BY lang
"""


# Krippendorff thresholds: the two "annotators" are deterministic silver
# labelers of document quality — A by character mass, B by token count.
# Calibrated to the same positive rate so disagreement is the thin
# boundary band (the realistic inter-annotator regime).
KRIPP_CHARS_MIN = 220
KRIPP_TOKENS_MIN = 38


def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal, two coders, binary) between the
    char-mass and token-count silver labelers, exact to the ppm.

    For two coders rating every unit, nominal alpha reduces to pure
    integers: with n units, d disagreements, pooled category masses
    m1 = sum(a) + sum(b) and m0 = 2n - m1,

        Do = d / n,   De = 2*m0*m1 / (2n * (2n - 1)),
        alpha = 1 - Do/De
              = 1 - d * (2n - 1) / (m0 * m1)     (after cancelling 2n)

    so alpha_ppm = 1e6 - (d * (2n-1) * 1e6) div (m0 * m1) — one
    truncating division on the decimal contract, no float anywhere.
    Degenerate pools (m0*m1 = 0: every rating identical) surface the
    -1 sentinel. alpha goes NEGATIVE when coders disagree more than
    chance — the subtraction is signed by construction.

    Scale shape (100 TB): one scan to per-doc labels, one 4-sum
    aggregate; everything after is a 1-row computation.
    """
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        (F.col("n_chars") >= KRIPP_CHARS_MIN).cast("int").alias("a"),
        (F.size(F.split(F.col("text"), " ")) >= KRIPP_TOKENS_MIN)
        .cast("int")
        .alias("b"),
    )
    agg = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum((F.col("a") != F.col("b")).cast("int"))
        .cast("bigint")
        .alias("n_disagree"),
        (F.sum("a") + F.sum("b")).cast("bigint").alias("m_pos"),
    )
    return agg.select(
        "n_units",
        "n_disagree",
        "m_pos",
        (F.lit(2) * F.col("n_units") - F.col("m_pos"))
        .cast("bigint")
        .alias("m_neg"),
        F.expr(
            "CAST((n_units - n_disagree) * 1000000 div n_units AS BIGINT)"
        ).alias("observed_agree_ppm"),
        F.expr(
            "CASE WHEN m_pos = 0 OR 2 * n_units - m_pos = 0 THEN -1"
            " ELSE CAST(1000000 - CAST(n_disagree AS DECIMAL(38,0))"
            " * (2 * n_units - 1) * 1000000"
            " div (CAST(m_pos AS DECIMAL(38,0)) * (2 * n_units - m_pos))"
            " AS BIGINT) END"
        ).alias("alpha_ppm"),
    )


QUERIES["eval_krippendorff_alpha"] = eval_krippendorff_alpha

ORACLES["eval_krippendorff_alpha"] = f"""
    WITH labeled AS (
        SELECT CAST(n_chars >= {KRIPP_CHARS_MIN} AS INT) AS a,
               CAST(len(string_split(text, ' ')) >= {KRIPP_TOKENS_MIN}
                    AS INT) AS b
        FROM documents),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(CASE WHEN a != b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_disagree,
               CAST(SUM(a) + SUM(b) AS BIGINT) AS m_pos
        FROM labeled)
    SELECT n_units, n_disagree, m_pos,
           CAST(2 * n_units - m_pos AS BIGINT) AS m_neg,
           CAST((n_units - n_disagree) * 1000000 // n_units AS BIGINT)
               AS observed_agree_ppm,
           CASE WHEN m_pos = 0 OR 2 * n_units - m_pos = 0 THEN -1
                ELSE CAST(1000000 - CAST(n_disagree AS HUGEINT)
                          * (2 * n_units - 1) * 1000000
                          // (CAST(m_pos AS HUGEINT)
                              * (2 * n_units - m_pos)) AS BIGINT) END
               AS alpha_ppm
    FROM agg
"""
