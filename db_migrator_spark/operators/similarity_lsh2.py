"""Portable sign-LSH with a full value-hash oracle (round 8c).

The fast sign-LSH (``similarity.similarity_lsh_pairs``) uses JVM
hashing and float cosine scoring — deterministic but rows-only at the
driver gate. This variant makes the ENTIRE random-hyperplane pipeline
value-hash-provable, the embedding-space sibling of
``dedup.dedup_minhash_portable``. Unlike SimHash, whose oracle-backed
variant beat the fast one and became the only implementation, both
sign-LSH variants stay: at sf0.1 the fast one ran 3.40s against 8.16s
here (4 interleaved in-process reps, 4 cores) and returned 403 pairs
against 144.

- Quantize: q = floor(x * 1e3) per component (IEEE-exact, the
  centroids contract; milli keeps every product inside BIGINT until
  the one DECIMAL step).
- Hyperplanes: LSH_PLANES pseudo-random +/-1 coefficient vectors
  derived from md5(plane:dim) — both engines derive the SAME planes
  from the same strings, so "random projection" becomes reproducible
  arithmetic. Sign bit p = (sum_dim c * q >= 0).
- Banding: LSH_PLANES bits split into PLANES_PER_BAND-bit band keys
  ('0'/'1' strings); buckets cap at LSH2_BUCKET_CAP members by vec_id
  (deterministic — C(cap,2) pair bound per band key).
- Exact verify: cosine in SIGNED MILLI via the MCC isqrt pattern —
  cos_milli = sign(dot) * isqrt(dot^2 * 1e6 div (na * nb)) — every
  term integral (dot^2 * 1e6 <= ~4e21, DECIMAL(38,0)); keep pairs
  >= LSH2_COS_MILLI.

Scale notes (100 TB): the plane table is 1024 literals-by-derivation
(broadcast); signatures are one map-side-combinable groupBy over the
exploded components; the bucket cap bounds candidate pairs
structurally; the verify joins candidates back to components on the
dimension key — no cartesian, no floats, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table
from .corpus5 import _isqrt
from .dedup import _bucket_pairs, _cap_members

LSH_PLANES = 16
PLANES_PER_BAND = 4
LSH2_BUCKET_CAP = 64
LSH2_COS_MILLI = 400  # exact-verify cosine threshold (0.4, the fast sibling's)
_DIM = 64

# md5 first hex in 0..7 <=> top bit of the first nibble clear -> +1.
_COEF_POS = tuple("01234567")


def _plane_coefs(spark: SparkSession) -> DataFrame:
    """The (plane, dim, c) +/-1 coefficient table, derived in-plan from
    md5 so the oracle rebuilds it bit-for-bit."""
    return spark.range(LSH_PLANES).select(
        F.col("id").cast("int").alias("plane"),
        F.explode(F.sequence(F.lit(0), F.lit(_DIM - 1))).alias("i"),
    ).select(
        "plane",
        "i",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("plane").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                ),
                1,
                1,
            ).isin(*_COEF_POS),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("c"),
    )


def similarity_lsh_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sign-LSH near-neighbor pairs with a FULL value-hash oracle
    (module doc). Output: vec pair, exact signed cosine in milli."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1_000).cast(
                    "bigint"
                ),
            )
        ).alias("i", "q"),
    ).localCheckpoint()  # feeds signatures, both verify sides, norms
    planes = F.broadcast(_plane_coefs(spark))
    bits = (
        comps.join(planes, "i")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("c") * F.col("q")).alias("proj"))
        .select(
            "vec_id",
            "plane",
            F.when(F.col("proj") >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            .alias("bit"),
        )
    )
    bands = (
        bits.withColumn(
            "band", F.expr(f"plane div {PLANES_PER_BAND}")
        )
        .groupBy("vec_id", "band")
        .agg(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(F.struct("plane", "bit"))
                ).getField("bit"),
            ).alias("key")
        )
    )
    capped = _cap_members(bands, ["band", "key"], "vec_id", LSH2_BUCKET_CAP)
    # Row-local C(k,2) pair explode over the CAPPED buckets (<= 64
    # members — the r9e idiom's win condition, re-landed round 10): the
    # cap's window already shuffled on (band, key), the groupBy reuses
    # that partitioning, and the pair explode runs in codegen instead of
    # re-shuffling the banded keys for a self-join (oracle unchanged —
    # values contract).
    cand = _bucket_pairs(capped, ["band", "key"], "vec_id").select(
        F.col("d1").alias("v1"), F.col("d2").alias("v2")
    )
    # Verify side in ARRAY form (round 15): the r8c verify joined the
    # exploded components back per pair — cand x 64 rows per side, a
    # (v2, i)-keyed join whose tiny shuffles AQE coalesced to 1 task
    # (~6s of the 14s sf1 wall serialized). The quantized vector as one
    # array row makes dot and norm row-local integer folds: BIGINT sums
    # are order-independent, so dot/nsq are bit-identical to the
    # exploded SUMs and the oracle is untouched.
    qvec = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1_000).cast("bigint"),
        ).alias("qs"),
    ).localCheckpoint()  # feeds both pair sides + norms
    zl = F.lit(0).cast("bigint")
    norms = qvec.select(
        "vec_id",
        F.aggregate(
            F.transform(F.col("qs"), lambda x: x * x), zl, lambda a, x: a + x
        ).alias("nsq"),
    )
    qa = qvec.select(F.col("vec_id").alias("v1"), F.col("qs").alias("qsa"))
    qb = qvec.select(F.col("vec_id").alias("v2"), F.col("qs").alias("qsb"))
    dots = (
        cand.join(qa, "v1")
        .join(qb, "v2")
        .select(
            "v1",
            "v2",
            F.aggregate(
                F.zip_with(F.col("qsa"), F.col("qsb"), lambda x, y: x * y),
                zl,
                lambda a, x: a + x,
            ).alias("dot"),
        )
    )
    n1 = norms.select(F.col("vec_id").alias("v1"), F.col("nsq").alias("na"))
    n2 = norms.select(F.col("vec_id").alias("v2"), F.col("nsq").alias("nb"))
    cos_abs = _isqrt(
        F.expr(
            "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
            " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
        )
    )
    return (
        dots.join(n1, "v1")
        .join(n2, "v2")
        .select(
            "v1",
            "v2",
            F.when(F.col("dot") < 0, -cos_abs)
            .otherwise(cos_abs)
            .cast("bigint")
            .alias("cos_milli"),
        )
        .filter(F.col("cos_milli") >= LSH2_COS_MILLI)
        .orderBy("v1", "v2")
    )


QUERIES = {"similarity_lsh_portable": similarity_lsh_portable}

ORACLES = {
    "similarity_lsh_portable": f"""
    CREATE OR REPLACE TEMP TABLE plsh_q AS
        SELECT vec_id, i - 1 AS i,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                          * CAST(1000.0 AS DOUBLE)) AS BIGINT) AS q
        FROM embeddings, generate_series(1, {_DIM}) AS g(i);
    CREATE OR REPLACE TEMP TABLE plsh_planes AS
        SELECT p.plane, d.i,
               CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || ':'
                                  || CAST(d.i AS VARCHAR)), 1, 1)
                         IN {_COEF_POS}
                    THEN 1 ELSE -1 END AS c
        FROM (SELECT unnest(generate_series(0, {LSH_PLANES - 1})) AS plane) p,
             (SELECT unnest(generate_series(0, {_DIM - 1})) AS i) d;
    CREATE OR REPLACE TEMP TABLE plsh_bands AS
        SELECT vec_id, plane // {PLANES_PER_BAND} AS band,
               string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, ''
                          ORDER BY plane) AS key
        FROM (
            SELECT q.vec_id, pl.plane, SUM(pl.c * q.q) AS proj
            FROM plsh_q q JOIN plsh_planes pl ON pl.i = q.i
            GROUP BY q.vec_id, pl.plane)
        GROUP BY vec_id, band;
    CREATE OR REPLACE TEMP TABLE plsh_cand AS
        SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        FROM (SELECT * FROM (
                SELECT vec_id, band, key,
                       ROW_NUMBER() OVER (PARTITION BY band, key
                                          ORDER BY vec_id) AS rn
                FROM plsh_bands) WHERE rn <= {LSH2_BUCKET_CAP}) a
        JOIN (SELECT * FROM (
                SELECT vec_id, band, key,
                       ROW_NUMBER() OVER (PARTITION BY band, key
                                          ORDER BY vec_id) AS rn
                FROM plsh_bands) WHERE rn <= {LSH2_BUCKET_CAP}) b
          ON b.band = a.band AND b.key = a.key AND a.vec_id < b.vec_id;
    WITH norms AS (
        SELECT vec_id, SUM(q * q) AS nsq FROM plsh_q GROUP BY vec_id),
    dots AS (
        SELECT c.v1, c.v2, SUM(qa.q * qb.q) AS dot
        FROM plsh_cand c
        JOIN plsh_q qa ON qa.vec_id = c.v1
        JOIN plsh_q qb ON qb.vec_id = c.v2 AND qb.i = qa.i
        GROUP BY c.v1, c.v2),
    scored AS (
        SELECT d.v1, d.v2, d.dot,
               CAST(CAST(d.dot AS HUGEINT) * d.dot * 1000000
                    // (CAST(na.nsq AS HUGEINT) * nb.nsq) AS BIGINT) AS m2
        FROM dots d
        JOIN norms na ON na.vec_id = d.v1
        JOIN norms nb ON nb.vec_id = d.v2),
    sq AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(m2 AS DOUBLE))) AS BIGINT) AS s
        FROM scored),
    adj AS (
        SELECT *, CASE WHEN (s + 1) * (s + 1) <= m2 THEN s + 1
                       WHEN s * s > m2 THEN s - 1
                       ELSE s END AS cos_abs
        FROM sq)
    SELECT v1, v2,
           CAST(CASE WHEN dot < 0 THEN -cos_abs ELSE cos_abs END
                AS BIGINT) AS cos_milli
    FROM adj
    WHERE CASE WHEN dot < 0 THEN -cos_abs ELSE cos_abs END
          >= {LSH2_COS_MILLI}
    ORDER BY v1, v2
""",
}
