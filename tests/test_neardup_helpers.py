"""Contract tests for the shared near-dup stages in operators/dedup.py,
checked against brute-force Python sets on hand-written documents."""

from itertools import combinations

import pytest

# doc 3 shares no shingle with docs 1, 2 and 5; doc 4 is under 3 words;
# doc 5 repeats its shingles.
DOCS = {
    1: "a b c d e f",
    2: "a b c d x y",
    3: "p q r s",
    4: "a b",
    5: "a b c a b c a b c",
    6: "q r s t",
}


def _sets():
    out = {}
    for doc_id, text in DOCS.items():
        w = text.split(" ")
        grams = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        if grams:
            out[doc_id] = grams
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        sorted(DOCS.items()), "doc_id bigint, text string"
    )


@pytest.fixture(scope="module", params=["s", "shingle"])
def index(request, docs):
    """The string 3-gram set and the hashed (bigint) shingle index."""
    from db_migrator_spark.operators.dedup import _shingle_index, _word_shingles

    if request.param == "s":
        return _word_shingles(docs), "s"
    return _shingle_index(docs).localCheckpoint(), "shingle"


def test_overlapping_pairs_match_brute_force(index):
    from db_migrator_spark.operators.dedup import _overlapping_pairs

    sh, key = index
    sets = _sets()
    want = {
        (a, b): (len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a, b in combinations(sorted(sets), 2)
        if sets[a] & sets[b]
    }
    got = {
        (r.d1, r.d2): (r.shared, r.n1, r.n2)
        for r in _overlapping_pairs(sh, key).collect()
    }
    assert got == want
    assert (5, 1) not in got and (1, 5) in got  # d1 < d2, repeats counted once


def test_candidate_overlap_keeps_disjoint_pairs_and_drops_short_docs(spark, index):
    from db_migrator_spark.operators.dedup import _candidate_overlap

    sh, key = index
    sets = _sets()
    cand = spark.createDataFrame(
        [(1, 2, "x"), (1, 3, "y"), (1, 4, "z"), (3, 6, "w"), (1, 5, "v")],
        "d1 bigint, d2 bigint, tag string",
    )
    out = _candidate_overlap(sh, cand, key)
    assert out.columns == ["d1", "d2", "tag", "shared", "n1", "n2"]
    got = {(r.d1, r.d2): (r.tag, r.shared, r.n1, r.n2) for r in out.collect()}
    want = {
        (a, b): (t, len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a, b, t in [(1, 2, "x"), (1, 3, "y"), (3, 6, "w"), (1, 5, "v")]
    }
    assert got == want  # (1, 4) drops out: doc 4 has no shingles
    assert got[1, 3][1] == 0


def test_cap_members_keeps_lowest_ids(spark):
    from db_migrator_spark.operators.dedup import _cap_members

    bands = spark.createDataFrame(
        [(0, "k", i) for i in (5, 3, 9, 1, 7)]
        + [(0, "j", i) for i in (4, 2)]
        + [(1, "k", i) for i in (8, 6)],
        "band int, key string, doc_id bigint",
    )
    got = sorted(
        tuple(r) for r in _cap_members(bands, ["band", "key"], "doc_id", 3).collect()
    )
    assert got == sorted(
        [(0, "k", 1), (0, "k", 3), (0, "k", 5), (0, "j", 2), (0, "j", 4), (1, "k", 6), (1, "k", 8)]
    )
