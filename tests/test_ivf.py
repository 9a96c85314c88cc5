"""IVF ANN recall vs brute force."""

import os

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.01"


def test_ivf_recall_at_10(spark):
    from db_migrator_spark.operators.similarity import similarity_topk_bruteforce
    from db_migrator_spark.operators.similarity_ivf import similarity_ivf_topk

    exact = [r.vec_id for r in similarity_topk_bruteforce(spark, SF).collect()]
    approx = [r.vec_id for r in similarity_ivf_topk(spark, SF).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    # derived k = sqrt(500) ~ 22 cells, nprobe=4 scans ~18% of the corpus;
    # near-neighbors concentrate in the query's cells so recall must sit
    # well above the scanned fraction even on this isotropic fixture
    assert recall >= 0.4, (recall, exact, approx)
    # the query vector itself must be found (its own cell is always probed)
    assert approx[0] == 0


def test_ivf_scans_subset(spark):
    from db_migrator_spark.operators.similarity_ivf import (
        NPROBE,
        build_ivf_index,
        derived_k_cells,
    )

    indexed, centroids = build_ivf_index(spark, SF)
    k = derived_k_cells(500)  # sqrt(N) default: 22 cells on the 500-vec fixture
    assert k == 22
    assert centroids.shape == (k, 64)
    cells = indexed.groupBy("cell").count()
    assert cells.count() <= k
    total = indexed.count()
    probed = (
        indexed.filter(F.col("cell").isin(list(range(NPROBE)))).count()
    )
    assert probed < total  # probing genuinely subsets the corpus


def test_ivf_online_query_prunes_cell_directories(spark, tmp_path):
    """The persisted-index query path must hit the cells dataset with a
    partition filter (directory pruning), not a full scan + row filter."""
    from db_migrator_spark.operators.similarity_ivf import (
        ivf_query_index,
        write_ivf_index,
    )
    from db_migrator_spark.io import load_table
    from db_migrator_spark.plans import plan_string

    idx = str(tmp_path / "ivf")
    write_ivf_index(spark, SF, idx)
    q = load_table(spark, SF, "embeddings").filter(F.col("vec_id") == 0).first().embedding
    df = ivf_query_index(spark, idx, [float(x) for x in q])
    plan = plan_string(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # and the index really is laid out as one directory per cell
    dirs = [d for d in __import__("os").listdir(f"{idx}/cells") if d.startswith("cell=")]
    assert len(dirs) > 1


def test_ivf_clustered_corpus_recall_pinned(spark, tmp_path):
    """On a corpus WITH cluster structure (the case IVF exists for —
    fixture embeddings are deliberately isotropic, the adversarial case),
    the DERIVED default config (k = sqrt(4000) ~ 63 cells, nprobe=4 —
    scanning ~6% of the corpus) must hold recall@10 >= 0.9: cell count
    sizing per the measured k~sqrt(N) law, docs/SCALING.md round-6 ANN
    section."""
    import subprocess
    import sys as _sys

    import numpy as np

    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.similarity_ivf import (
        ivf_query_index,
        write_ivf_index,
    )

    corpus = str(tmp_path / "clustered")
    subprocess.run(
        [_sys.executable, "tools/make_ann_corpus.py", corpus, "4000", "60"],
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    idx = str(tmp_path / "ivf")
    write_ivf_index(spark, corpus, idx)
    from db_migrator_spark.operators.similarity_ivf import derived_k_cells

    k = derived_k_cells(4000)
    assert k == 63
    n_cent = spark.read.parquet(f"{idx}/centroids").count()
    assert n_cent == k

    rows = load_table(spark, corpus, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    norms = np.linalg.norm(mat, axis=1)

    recalls = []
    for qi in np.linspace(0, len(ids) - 1, 5).astype(int):
        sims = mat @ mat[qi] / (norms * norms[qi] + 1e-30)
        best = np.argsort(-sims)
        truth = set(ids[best[best != qi][:10]])
        got = ivf_query_index(spark, idx, [float(x) for x in mat[qi]], k=11).collect()
        # fair recall@10: drop self, truncate to top-10 retrieved
        topk = [r.vec_id for r in got if r.vec_id != ids[qi]][:10]
        recalls.append(len(set(topk) & truth) / 10)
    assert float(np.mean(recalls)) >= 0.9, recalls


def test_ivf_hard_negatives_recall_vs_bruteforce(spark):
    """The IVF-shortlisted miner must recover most of the brute-force
    hard negatives (probed cells hold the angular neighborhood), and
    every emitted row must be a genuine cross-label candidate whose
    cosine the row itself carries."""
    from db_migrator_spark.operators.similarity import (
        similarity_hard_negatives,
    )
    from db_migrator_spark.operators.similarity_ivf import (
        similarity_hard_negatives_ivf,
    )

    sf = "/root/testdata/sf0.01"
    exact = {
        (r.q_id, r.neg_id) for r in similarity_hard_negatives(spark, sf).collect()
    }
    approx_rows = similarity_hard_negatives_ivf(spark, sf).collect()
    approx = {(r.q_id, r.neg_id) for r in approx_rows}
    for r in approx_rows:
        assert r.neg_label != r.q_label
        assert -1.0 <= r.cos_sim <= 1.0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, (recall, sorted(exact - approx))


def test_ivf_pad_cells_copy_real_centroids(spark, tmp_path, monkeypatch):
    """When the training sample has fewer rows than ``k_cells``, the
    centroid matrix is padded to k. A vector whose cosine to every real
    centroid is negative (here: one opposite to all other data, left out
    of a ~6-row sample with probability ~0.98) must still land in a real
    cell: a centroid row that is non-zero and the first of its copies."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from db_migrator_spark.operators import similarity_ivf

    rng = np.random.RandomState(7)
    vecs = [[1.0, *rng.uniform(0.0, 0.5, 3)] for _ in range(300)]
    vecs.append([-1.0, -0.2, -0.2, -0.2])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    monkeypatch.setattr(similarity_ivf, "TRAIN_SAMPLE_MAX", 6)
    k = 40
    indexed, centroids = similarity_ivf.build_ivf_index(
        spark, str(tmp_path), k_cells=k
    )
    assert centroids.shape == (k, 4)
    cells = {r.vec_id: r.cell for r in indexed.collect()}
    for vec_id, cell in cells.items():
        row = centroids[cell]
        assert np.linalg.norm(row) > 0, (vec_id, cell)
        first = next(i for i in range(k) if np.array_equal(centroids[i], row))
        assert cell == first, (vec_id, cell, first)
