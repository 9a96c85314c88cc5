"""IVF (inverted-file) approximate nearest neighbor over embeddings.

The query-time scale path for ANN: partition the corpus into K coarse
cells (KMeans centroids), store each vector under its cell (the "inverted
file"), and at query time score only the ``nprobe`` cells whose centroids
are closest to the query — scanning nprobe/K of the corpus instead of all
of it. Classic IVF-Flat (as in FAISS), built from public Spark parts,
split the way a production index is:

- **offline build** (``write_ivf_index``): KMeans is trained on a bounded
  sample (never the full corpus), every vector is assigned a cell, and the
  corpus is persisted as a *cell-partitioned parquet dataset*
  (``sinks/layout.write_partitioned``) plus a K-row centroid sidecar;
- **online query** (``ivf_query_index``): centroid ranking is driver-side
  numpy over K x dim (tiny), then the cells dataset is read with an
  ``IN``-filter on the partition column — Spark prunes the non-probed cell
  *directories* before any IO (asserted in tests/test_ivf.py).

``similarity_ivf_topk`` (the driver-contract entry) builds the index once
per corpus into a cache directory and runs the online path — repeated
queries pay only the pruned read, exactly the offline/online split a
100 TB deployment uses.

Approximate by construction -> rows-only driver check; recall@10 vs the
brute-force oracle is pinned in tests/test_ivf.py.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table
from ..sinks.layout import write_partitioned
from .similarity import _cosine

IVF_CELLS = 16  # fixed-k config for callers that pin the cell count
NPROBE = 4
_SEED = 42
# Derived-k bounds: k ~ sqrt(N) is the measured sizing law (docs/SCALING.md
# round-6 ANN section — cell scan fraction ~nprobe/sqrt(N) at stable
# recall on clustered corpora). Floor keeps nprobe a strict subset on toy
# corpora; ceiling bounds the driver-side centroid sidecar (65536 x dim
# doubles ~ 32 MB at dim 64).
IVF_MIN_CELLS = 4
IVF_MAX_CELLS = 65_536


def derived_k_cells(n: int) -> int:
    """Default cell count for an N-vector corpus: ~sqrt(N), clamped to
    [IVF_MIN_CELLS, IVF_MAX_CELLS] and never above N itself (KMeans needs
    k <= training points)."""
    return int(max(1, min(max(round(n**0.5), IVF_MIN_CELLS), IVF_MAX_CELLS, n)))
# KMeans trains on at most this many sampled vectors: centroid quality
# saturates long before the full corpus, and the full fit would be an
# iterative all-data scan per KMeans round.
TRAIN_SAMPLE_MAX = 100_000


def _fit_spherical_kmeans(
    unit: np.ndarray, k: int, iters: int = 20
) -> np.ndarray:
    """Seeded spherical k-means over L2-normalized rows: kmeans++ init
    (cosine-distance D^2 weighting), Lloyd updates assigning by argmax
    dot with the normalized centroids — the same ranking the IVF query
    path probes with. Empty cells re-seed from the point farthest from
    its centroid, so exactly k non-degenerate directions come back.
    Bounded work: rows <= TRAIN_SAMPLE_MAX by the caller's contract."""
    rng = np.random.RandomState(_SEED)
    n = len(unit)
    # kmeans++ over 1 - cos distance
    first = int(rng.randint(n))
    cent = [unit[first]]
    d2 = np.maximum(1.0 - unit @ cent[0], 0.0) ** 2
    for _ in range(1, k):
        tot = float(d2.sum())
        if tot <= 0.0:
            cent.append(unit[int(rng.randint(n))])
            continue
        nxt = int(np.searchsorted(np.cumsum(d2), rng.random_sample() * tot))
        nxt = min(nxt, n - 1)
        cent.append(unit[nxt])
        d2 = np.minimum(d2, np.maximum(1.0 - unit @ cent[-1], 0.0) ** 2)
    c = np.stack(cent)
    for _ in range(iters):
        sims = unit @ c.T
        assign = np.argmax(sims, axis=1)
        newc = np.zeros_like(c)
        np.add.at(newc, assign, unit)
        norms = np.linalg.norm(newc, axis=1)
        empty = norms < 1e-12
        if empty.any():
            # re-seed each empty cell from the worst-served point
            worst = np.argsort(sims[np.arange(n), assign])
            for slot, pt in zip(np.flatnonzero(empty), worst):
                newc[slot] = unit[pt]
                norms[slot] = 1.0
        newc /= norms[:, None] + 1e-30
        if np.allclose(newc, c, atol=1e-9):
            c = newc
            break
        c = newc
    return c


def build_ivf_index(
    spark: SparkSession, sf_dir: str, k_cells: int | None = None
) -> tuple[DataFrame, np.ndarray]:
    """(corpus with cell assignments, centroid matrix K x dim).

    In-memory form of the index; ``write_ivf_index`` persists it. KMeans
    fits on a seeded bounded sample; assignment (the Arrow-batched
    argmax-cosine pass below) is the only full-corpus pass, map-side.

    The index metric is COSINE, so k-means runs on L2-NORMALIZED vectors
    (spherical partitioning): on raw vectors, Euclidean cells split by
    norm as well as direction, and a query's angular neighbors scatter
    across norm shells whenever norms vary. ``k_cells=None`` (the
    default) derives ~sqrt(N) cells via ``derived_k_cells`` — the
    measured sizing law; an explicit value pins k. Caveat measured at
    10x (docs/SCALING.md round-6 ANN section): IVF recall tracks the
    scan fraction on ISOTROPIC corpora — cell locality only pays on
    corpora with cluster structure, which real embedding corpora have
    and the synthetic fixture deliberately lacks.

    Metric consistency: the fit (``_fit_spherical_kmeans``), the corpus
    assignment (the Arrow-batched argmax u.c-hat pass below — K x dim
    ships once per executor as a closure constant), and the query-time
    cell ranking all use the SAME argmax-cosine criterion, so no vector
    is stored in a cell the query ranks differently.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # parquet-footer metadata read, not a data scan
    k = k_cells if k_cells is not None else derived_k_cells(n)
    # Round 15 (guide §1.2 measure-first + the PQ module's precedent):
    # pyspark.ml KMeans on the bounded sample was ~25 distributed jobs
    # (kmeans|| init rounds + 20 Lloyd iterations) over <= 100k rows —
    # 31.9s of the 36s sf1 wall was the fit, pure job-scheduling floor
    # at any corpus size because the sample is bounded BY DESIGN. The
    # fit now runs driver-side (one sample collect, <= 100k x dim
    # doubles ~ 50 MB) as seeded spherical k-means: kmeans++ init and
    # Lloyd updates under the argmax u.c-hat metric — the EXACT ranking
    # the query path and the assignment pass use, removing the
    # Euclidean-fit/cosine-query mismatch the renormalization note
    # below used to paper over. Recall gates unchanged
    # (tests/test_ivf.py: >= 0.4 isotropic, >= 0.9 clustered).
    train = emb if n <= TRAIN_SAMPLE_MAX else emb.sample(TRAIN_SAMPLE_MAX / n, seed=_SEED)
    sample = np.array(
        [list(r.embedding) for r in train.select("embedding").collect()],
        dtype=np.float64,
    )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True) + 1e-30
    centroids = _fit_spherical_kmeans(sample, min(k, len(sample)))
    if len(centroids) < k:
        # Degenerate tiny sample: pad to the k contract with COPIES of
        # real centroids. A zero pad row scores cosine 0, so a vector
        # whose cosine to every real centroid is negative would land in
        # an empty pad cell; a copy ties its original, and argmax keeps
        # the first (real) index.
        pad = centroids[np.arange(k - len(centroids)) % len(centroids)]
        centroids = np.vstack([centroids, pad])

    @F.pandas_udf("int")
    def assign_cell(embeddings: pd.Series) -> pd.Series:
        if len(embeddings) == 0:
            # np.stack raises on zero arrays; empty Arrow batches arrive
            # from empty partitions after repartition/filter.
            return pd.Series([], dtype="int32")
        mat = np.stack(embeddings.to_numpy()).astype(np.float64)
        mat = mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-30)
        return pd.Series(np.argmax(mat @ centroids.T, axis=1).astype(np.int32))

    indexed = emb.select(
        "vec_id", "embedding", "label", assign_cell("embedding").alias("cell")
    )
    return indexed, centroids


def write_ivf_index(
    spark: SparkSession, sf_dir: str, index_path: str, k_cells: int | None = None
) -> None:
    """Offline index build: cell-partitioned corpus + K-row centroid sidecar.

    The cells dataset goes through ``write_partitioned`` so each cell is a
    parquet directory (pruned at query time); centroids are a K x dim
    parquet small enough to read driver-side in one shot.
    """
    indexed, centroids = build_ivf_index(spark, sf_dir, k_cells)
    write_partitioned(indexed, os.path.join(index_path, "cells"), ["cell"])
    # Arrow path: createDataFrame from a pandas frame serializes the
    # K x dim sidecar as one Arrow batch; the list-of-tuples form ran a
    # pickled-RDD Python worker per partition (measured r15: 4.4s -> 0.2s
    # for the 141-row write at sf1).
    cent = spark.createDataFrame(
        pd.DataFrame(
            {
                "cell": range(len(centroids)),
                "centroid": [[float(x) for x in c] for c in centroids],
            }
        ),
        "cell int, centroid array<double>",
    )
    cent.coalesce(1).write.mode("overwrite").parquet(os.path.join(index_path, "centroids"))


def ivf_query_index(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = NPROBE,
) -> DataFrame:
    """Top-k cosine neighbors from a persisted index, probing nprobe cells.

    The ``cell IN (...)`` filter lands on the dataset's partition column,
    so Spark enumerates only the probed cell directories (PartitionFilters
    in the scan node) — IO scales with nprobe/K of the corpus.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    cent_rows = spark.read.parquet(os.path.join(index_path, "centroids")).collect()
    centroids = np.zeros((len(cent_rows), len(q)))
    for r in cent_rows:
        centroids[r.cell] = r.centroid
    sims = centroids @ q / (np.linalg.norm(centroids, axis=1) * np.linalg.norm(q) + 1e-30)
    probe_cells = [int(c) for c in np.argsort(-sims)[:nprobe]]
    qcol = F.array(*[F.lit(float(x)) for x in q])
    cells = spark.read.parquet(os.path.join(index_path, "cells"))
    return (
        cells.filter(F.col("cell").isin(probe_cells))
        .select("vec_id", "cell", _cosine(F.col("embedding"), qcol).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def dataset_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Filesystem-only cache key for a parquet table: absolute path plus
    (name, size, mtime_ns) of every data file. Pure ``os.stat`` — no Spark
    job, not even a footer read — and it invalidates on any rewrite, which
    a row count cannot (same-count updates)."""
    root = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    parts: list[str] = [root]
    if os.path.isdir(root):
        for dirpath, _dirnames, filenames in sorted(os.walk(root)):
            for name in sorted(filenames):
                st = os.stat(os.path.join(dirpath, name))
                parts.append(f"{dirpath}/{name}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(root)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _ephemeral_index_dir(prefix: str) -> str:
    """Per-invocation scratch dir for an index build. Rounds 6-13 cached
    the written index in /tmp keyed on the corpus fingerprint (the
    offline/online split a production ANN deployment uses); the
    optimization-round contract forbids persisted intermediates keyed on
    the test data, so every declared-query invocation now builds its own
    index, queries it, materializes the (tiny) result, and deletes the
    dir before returning (round 14)."""
    return tempfile.mkdtemp(prefix=f"db_migrator_spark_{prefix}_run_")


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: IVF ANN top-10 for the vec_id=0 query.

    Builds the index, runs the online pruned-read query path against it,
    and materializes the k-row result before the scratch dir is removed
    (``_ephemeral_index_dir`` — no cross-run index cache). The
    partition-pruned read remains the point of the operator
    (PartitionFilters asserted in tests/test_ivf.py on the explicit
    ``ivf_query_index`` path).
    """
    import shutil

    path = _ephemeral_index_dir("ivf")
    try:
        write_ivf_index(spark, sf_dir, path)
        emb = load_table(spark, sf_dir, "embeddings")
        query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
        return ivf_query_index(spark, path, [float(x) for x in query]).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def similarity_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of hard-negative mining: shortlist per query from the
    IVF index's probed cells (partition-pruned read), drop same-label
    rows, exact cosine re-rank, top-k — the brute-force miner
    (`similarity.similarity_hard_negatives`) scans the corpus per
    query; this scans ~nprobe/K of it.

    Approximate by construction (a negative hiding in an unprobed cell
    is missed) -> rows-only driver check; every row carries its exact
    cosine (self-validating), and recall vs the brute-force miner is
    pinned in tests/test_ivf.py. The per-query pruned reads union into
    one plan — 8 constant-size jobs, no corpus-wide shuffle.
    """
    import shutil

    path = _ephemeral_index_dir("ivf")
    try:
        return _hard_negatives_from_index(spark, sf_dir, path)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _hard_negatives_from_index(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    from functools import reduce

    from .similarity import HARD_NEG_QUERIES, HARD_NEG_TOPK, _cosine

    write_ivf_index(spark, sf_dir, path)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < HARD_NEG_QUERIES)
        .select("vec_id", "label", "embedding")
        .collect()
    )  # constant-size query set: HARD_NEG_QUERIES rows
    cent_rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    dim = len(queries[0].embedding)
    centroids = np.zeros((len(cent_rows), dim))
    for r in cent_rows:
        centroids[r.cell] = r.centroid
    cnorm = np.linalg.norm(centroids, axis=1) + 1e-30
    cells_df = spark.read.parquet(os.path.join(path, "cells"))
    parts = []
    for qr in queries:
        q = np.asarray([float(x) for x in qr.embedding])
        sims = centroids @ q / (cnorm * (np.linalg.norm(q) + 1e-30))
        probe = [int(c) for c in np.argsort(-sims)[:NPROBE]]
        qcol = F.array(*[F.lit(float(x)) for x in q])
        parts.append(
            cells_df.filter(
                F.col("cell").isin(probe) & (F.col("label") != qr.label)
            ).select(
                F.lit(qr.vec_id).alias("q_id"),
                F.lit(qr.label).alias("q_label"),
                F.col("vec_id").alias("neg_id"),
                F.col("label").alias("neg_label"),
                _cosine(F.col("embedding"), qcol).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), F.col("neg_id"))
            .limit(HARD_NEG_TOPK)
        )
    return (
        reduce(lambda a, b: a.unionAll(b), parts)
        .orderBy("q_id", F.col("cos_sim").desc(), "neg_id")
        .localCheckpoint()  # materialize before the index dir goes away
    )


QUERIES = {
    "similarity_ivf_topk": similarity_ivf_topk,
    "similarity_hard_negatives_ivf": similarity_hard_negatives_ivf,
}
ORACLES = {}  # approximate (probe subset) -> rows-only; recall pinned in tests
