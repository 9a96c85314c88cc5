"""Semantics of the deferred round-2b ops (TF-IDF / BM25 / centroids /
resample-ffill / Q8) plus the registration guarantees they rely on."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def test_tfidf_top5_per_doc(spark):
    from db_migrator_spark.operators.text import text_tfidf_topterms

    rows = text_tfidf_topterms(spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc, "corpus should produce tf-idf rows"
    for doc_id, rs in by_doc.items():
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        scores = [r.tfidf for r in rs]
        assert scores == sorted(scores, reverse=True), f"doc {doc_id} not ranked"
        # rarer terms outscore common ones at equal tf: df of rank-1 term
        # can't exceed df of an equal-tf lower-ranked term
        for hi, lo in zip(rs, rs[1:]):
            if hi.tf == lo.tf:
                assert hi.df <= lo.df


def test_bm25_ranks_matching_docs(spark):
    from db_migrator_spark.operators.text import BM25_QUERY, text_bm25_search

    rows = text_bm25_search(spark, SF).collect()
    assert len(rows) == 10
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0 < r.n_terms_hit <= len(BM25_QUERY) for r in rows)
    assert all(r.score > 0 for r in rows)


def test_embedding_centroids_shape_and_range(spark):
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.similarity import q_embedding_centroids

    emb = load_table(spark, SF, "embeddings")
    # the DuckDB oracle unrolls dimensions with generate_series(1, 64) —
    # pin the fixture dimensionality that assumption rests on
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [64]

    labels = {r.label for r in emb.select("label").distinct().collect()}
    cents = q_embedding_centroids(spark, SF).collect()
    assert len(cents) == len(labels) * 64
    per_label = emb.groupBy("label").count().collect()
    counts = {r.label: r["count"] for r in per_label}
    for c in cents:
        assert c.n_vectors == counts[c.label]
        assert abs(c.centroid) < 10.0  # unit-ish embedding components


def test_q8_share_bounded(spark):
    from db_migrator_spark.operators.relational4 import q8_market_share

    rows = q8_market_share(spark, SF).collect()
    assert rows, "ECONOMY/ASIA slice should be non-empty"
    for r in rows:
        assert 0.0 <= r.mkt_share <= 1.0
        assert r.total_revenue > 0


def test_resample_ffill_semantics(spark):
    from db_migrator_spark.operators.events import events_resample_ffill

    rows = events_resample_ffill(spark, SF).collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        assert not rs[0].was_gap, f"user {user} spine must start at first event hour"
        last_seen = None
        for r in rs:
            assert r.value_ffill is not None
            if r.was_gap:
                assert r.value_ffill == last_seen, f"user {user} gap not forward-filled"
            else:
                last_seen = r.value_ffill
        hours = [r.hr for r in rs]
        deltas = {(b - a).total_seconds() for a, b in zip(hours, hours[1:])}
        assert deltas <= {3600.0}, f"user {user} spine not hourly-dense"


def test_registration_order_prioritizes_missing_evidence():
    """The driver checks the FIRST 50 registered queries per round, so
    registration order must put driver-RED queries first (the only
    negative signal — r7 verdict item #1), then never-driver-checked,
    then very-stale greens (3+ rounds old), then fresh greens
    oldest-first."""
    import glob
    import json
    import os

    import __spark_entry__ as e

    names = list(e.queries())

    last: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(os.path.dirname(e.__file__),
                                              "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        data = json.load(open(path))
        for k, v in data.items():
            green = v.get("err") == "no_oracle" or (
                bool(v.get("rows_match"))
                and bool(v.get("schema_match"))
                and v.get("hash_match") is not False
            )
            prev = last.get(k)
            if prev is None or rnd >= prev[0]:
                last[k] = (rnd, green)

    newest = max((rnd for rnd, _g in last.values()), default=0)

    def tier(n: str) -> int:
        if n not in last:
            return 1
        rnd, green = last[n]
        if not green:
            return 0
        return 2 if rnd <= newest - 3 else 3

    tiers = [tier(n) for n in names]
    assert tiers == sorted(tiers), "evidence tiers must be non-decreasing"
    # every red query MUST make the driver's 50-slot window
    reds = [n for n in names if tier(n) == 0]
    assert len(reds) <= 50 and set(reds) <= set(names[:50])
    # never-checked queries fill the window right after the reds
    never = [n for n in names if tier(n) == 1]
    if len(reds) + len(never) <= 50:
        assert set(never) <= set(names[:50])
