"""Semantics of the corpus-assembly operators (chunking, repetition
metrics, decontamination, sequence packing, Q21 analog) — invariants the
oracle hash can't express, checked on the real fixture."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def test_chunk_geometry_covers_every_doc(spark):
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus import (
        CHUNK_CHARS,
        CHUNK_STRIDE,
        text_chunk_documents,
    )

    lens = {
        r.doc_id: r.n
        for r in load_table(spark, SF, "documents")
        .select("doc_id", F.length("text").alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in text_chunk_documents(spark, SF).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(lens), "every document must be chunked"
    for doc_id, rs in by_doc.items():
        n = lens[doc_id]
        assert [r.chunk_id for r in rs] == list(range(len(rs)))
        assert len(rs) == (n - 1) // CHUNK_STRIDE + 1
        for r in rs:
            assert r.chunk_len == min(CHUNK_CHARS, n - r.chunk_id * CHUNK_STRIDE)
        # last chunk reaches exactly the end of the document
        last = rs[-1]
        assert last.chunk_id * CHUNK_STRIDE + last.chunk_len == n


def test_repetition_metrics_bounds_and_bigram_count(spark):
    from db_migrator_spark.operators.corpus import text_repetition_metrics

    rows = text_repetition_metrics(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.n_bigrams == r.n_words - 1
        assert 1 <= r.n_distinct_bigrams <= r.n_bigrams
        assert 0.0 < r.top_word_frac <= 1.0
        assert 0.0 <= r.dup_bigram_frac < 1.0
        assert r.flagged == (r.top_word_frac > 0.1 or r.dup_bigram_frac > 0.3)
    # word-soup fixture: both verdicts must actually occur
    assert {r.flagged for r in rows} == {True, False}


def test_contamination_matches_python_sets(spark):
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus import (
        CONTAM_NGRAM,
        text_contamination_check,
    )

    texts = {
        r.doc_id: r.text for r in load_table(spark, SF, "documents").collect()
    }

    def shingles(t):
        w = t.split(" ")
        return {
            " ".join(w[i : i + CONTAM_NGRAM])
            for i in range(len(w) - CONTAM_NGRAM + 1)
        }

    bench = {d: shingles(t) for d, t in texts.items() if d < 25}
    rows = text_contamination_check(spark, SF).collect()
    got = {r.doc_id: r for r in rows}
    assert all(r.doc_id >= 25 for r in rows)
    # independent python-set recomputation over the first few corpus docs
    for doc_id in sorted(d for d in texts if d >= 25)[:10]:
        sh = shingles(texts[doc_id])
        shared = {s for bs in bench.values() for s in bs & sh}
        hit = {b for b, bs in bench.items() if bs & sh}
        if shared:
            assert got[doc_id].n_shared_shingles == len(shared)
            assert got[doc_id].n_bench_docs == len(hit)
        else:
            assert doc_id not in got


def test_pack_sequences_partition_of_corpus(spark):
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus import PACK_BUDGET, q_pack_sequences

    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    total_tok = docs.select(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("t")
    ).collect()[0].t
    rows = q_pack_sequences(spark, SF).collect()
    assert [r.seq_id for r in rows] == sorted(r.seq_id for r in rows)
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.total_tokens for r in rows) == total_tok
    # doc_id spans partition the corpus in order: no gaps, no overlap
    for a, b in zip(rows, rows[1:]):
        assert b.first_doc == a.last_doc + 1
    assert rows[0].first_doc == 0
    # every non-terminal sequence holds >= budget's worth of starts-before
    # tokens: consecutive seq_ids differ because cum crossed the boundary
    assert rows[-1].seq_id + 1 == len(rows) or all(
        b.seq_id > a.seq_id for a, b in zip(rows, rows[1:])
    )


def test_q21_sole_latest_supplier_property(spark):
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus import q21_blocking_supplier

    rows = q21_blocking_supplier(spark, SF).collect()
    assert 0 < len(rows) <= 10
    counts = [r.n_blocked for r in rows]
    assert counts == sorted(counts, reverse=True)
    suppkeys = {
        r.s_suppkey for r in load_table(spark, SF, "supplier").collect()
    }
    assert all(r.s_suppkey in suppkeys for r in rows)


def test_chunking_prunes_scan_and_shuffles_nothing(spark):
    from db_migrator_spark.operators.corpus import text_chunk_documents
    from db_migrator_spark.plans import plan_string
    from db_migrator_spark.plans.inspect import scan_read_schemas

    df = text_chunk_documents(spark, SF)
    schemas = scan_read_schemas(df)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas)
    # generator fused into the scan: the only exchange is the final
    # order-by ("Exchange (" matches the tree node once; the formatted
    # details section renders it as "(n) Exchange")
    plan = plan_string(df)
    assert plan.count("Exchange (") <= 1, plan


def test_unigram_score_matches_python(spark):
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.corpus import text_unigram_score

    texts = {
        r.doc_id: [w for w in r.text.split(" ") if w]
        for r in load_table(spark, SF, "documents").collect()
    }
    from collections import Counter

    corpus = Counter(w for ws in texts.values() for w in ws)
    n_corpus = sum(corpus.values())
    rows = text_unigram_score(spark, SF).collect()
    assert len(rows) == len(texts)
    for r in rows[:20]:
        ws = texts[r.doc_id]
        assert r.n_tok == len(ws)
        assert r.sum_cnt == sum(corpus[w] for w in ws)
        assert abs(r.avg_token_freq - r.sum_cnt / (r.n_tok * n_corpus)) < 1e-15
        assert 0.0 < r.avg_token_freq <= 1.0


def test_domain_rebalance_keeps_smallest_source_whole(spark):
    from db_migrator_spark.operators.corpus import q_domain_rebalance

    rows = q_domain_rebalance(spark, SF).collect()
    assert len(rows) == 20
    min_tok = min(r.tokens_before for r in rows)
    for r in rows:
        assert r.docs_kept <= r.n_docs
        assert r.tokens_after <= r.tokens_before
        if r.tokens_before == min_tok:
            # rate = min/src = 1 -> the smallest source is never downsampled
            assert r.docs_kept == r.n_docs and r.tokens_after == r.tokens_before
